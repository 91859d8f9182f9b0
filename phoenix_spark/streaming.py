"""Structured Streaming surface (SURVEY.md §2.11).

Phoenix's stream-shaped features and their Spark-native homes:

  * CREATE CDC change feed (grammar PhoenixSQL.g:593-616; server scanner
    CDCGlobalIndexRegionScanner.java:99) → the change log written by every
    mutation (mutations.py) doubles as a file-source stream: each committed
    segment is an immutable parquet directory, exactly the append-only
    contract `spark.readStream` expects.
  * ROW_TIMESTAMP event-time PK (grammar :140,:655-658) → event-time column
    + `withWatermark` for late-data bounds.
  * TTL / max-lookback (PhoenixTTLRegionObserver) → retention predicate views
    (`ttl_view`) + the compaction job dropping aged-out rows.
  * tumbling/sliding/session windows — no reference equivalent; declared
    beyond-reference surface (window(), session_window()).

Scale: the stream source lists only NEW segment files per micro-batch; state
for windowed aggregation is bounded by the watermark horizon.  The CDC apply
job (`apply_changes`) commits each micro-batch through `upsert_df`, and the
TTL expiry (`compact_with_ttl`) through `delete_where` — the change-log
commit that batch mutations use, which also maintains the target's indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from phoenix_spark.mutations import _DEL_COL, _TS_COL, ManagedTable


def stream_changes(spark: SparkSession, table: ManagedTable) -> DataFrame:
    """Streaming CDC feed over a managed table's change log.

    One row per mutation: PK columns + data columns + change_ts + change_op.
    (Pre-images need cross-commit state and belong to the batch
    ``ManagedTable.changes`` / ``apply_changes`` path.)
    """
    meta = table.meta
    raw = (
        spark.readStream.schema(ManagedTable.stored_schema(meta))
        .option("recursiveFileLookup", "true")
        .parquet(table.seg_dir)
    )
    return ManagedTable.logical(raw, meta).select(
        *[f["name"] for f in meta["schema"]["fields"]],
        F.col(_TS_COL).alias("change_ts"),
        F.when(F.col(_DEL_COL), F.lit("DELETE")).otherwise(F.lit("UPSERT")).alias(
            "change_op"
        ),
    )


def apply_changes(
    spark: SparkSession, source: ManagedTable, target: ManagedTable, checkpoint: str
):
    """CDC-apply: replicate a source change log into a target table.

    foreachBatch receives each micro-batch of change rows; within a batch,
    latest-wins per PK is resolved before the single change-log commit, so
    the target's history stays compact (the MutationState batch analogue).
    The commit holds the puts and the tombstones of the deleted keys that
    are live in the target, and maintains the target's indexes.
    Returns the started StreamingQuery (caller awaits termination).
    """
    from pyspark.sql.window import Window

    pk = source.pk
    data_cols = source.schema.fieldNames()

    def _apply(batch: DataFrame, _epoch: int) -> None:
        w = Window.partitionBy(*pk).orderBy(F.col("change_ts").desc())
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        ups = latest.filter(F.col("change_op") == "UPSERT").select(*data_cols)
        dels = latest.filter(F.col("change_op") == "DELETE")
        rows = ups.withColumn(_DEL_COL, F.lit(False)).unionByName(
            target.read(keys=dels).withColumn(_DEL_COL, F.lit(True)),
            allowMissingColumns=True,
        )
        if rows.limit(1).count():
            target.upsert_df(rows)

    return (
        stream_changes(spark, source)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window counts with a late-data watermark (works on both
    batch and streaming DataFrames — the beyond-reference §2.11 surface)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def sessionized(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows by inactivity gap (session_window — the streaming twin
    of queries/windows.py::window_sessionize)."""
    return (
        events.withWatermark(ts_col, "1 hour")
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def stateful_user_stats(events: DataFrame, timeout_minutes: int = 0) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    running per-user profile (event count, total value, last seen) carried
    across micro-batches.

    This is the §2.11 "custom stateful ops" surface the brief calls for —
    state lives in the state store keyed by user_id, each micro-batch updates
    it from Arrow-batched pandas frames, and idle users time out.  Works only
    on streaming DataFrames (batch callers use plain groupBy).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    def _update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        last_ts = None
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last_ts = mx if last_ts is None else max(last_ts, mx)
        state.update((n, total))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            [(key[0], n, total, last_ts)],
            columns=["user_id", "n_events", "total_value", "last_ts"],
        )

    # ProcessingTimeTimeout keeps an availableNow query alive waiting for
    # idle-key expiry; only enable it when the caller asked for timeouts.
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def stateful_user_checksum(events: DataFrame) -> DataFrame:
    """applyInPandasWithState with EXACT integer state — the hash-verifiable
    twin of stateful_user_stats: per-user event count and int64 event-id
    checksum carried in the state store.  Integer accumulation makes the
    result bit-deterministic regardless of batch/arrival order, so the
    operator can be value-hash oracle-paired (a float total cannot)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("id_sum", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", LongType())]
    )

    def _update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += int(pdf["event_id"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            [(key[0], n, s)], columns=["user_id", "n_events", "id_sum"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    events: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark horizon (dropDuplicatesWithinWatermark — state is bounded by
    the horizon, so this runs indefinitely at ingest scale; the M8 dedup
    family's streaming counterpart)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def compact_with_ttl(
    table: ManagedTable, ts_col: str, ttl_expr: str, now_expr: str
) -> None:
    """TTL-aware compaction (PhoenixTTLRegionObserver + CompactionScanner
    analogue): physically expire rows older than the retention horizon, then
    fold the change log to a single base segment.  The logical `ttl_view`
    hides aged rows immediately; this job reclaims the storage."""
    table.delete_where(
        F.expr(f"NOT ({ts_col} > {now_expr} - INTERVAL {ttl_expr})")
    )
    table.compact()


def ttl_view(df: DataFrame, ts_col: str, ttl_expr: str, now_expr: str) -> DataFrame:
    """TTL / max-lookback view: rows older than the retention horizon are
    invisible (PhoenixTTLRegionObserver analogue; the physical delete happens
    at compaction).  ``now_expr`` is injected (e.g. a literal) so results are
    deterministic/testable — Phoenix similarly pins 'now' per query."""
    return df.filter(F.expr(f"{ts_col} > {now_expr} - INTERVAL {ttl_expr}"))

"""Persisted event-rollup index — pre-aggregate once, serve many.

The event-analytics family (x185 rolling active, x187 error spikes,
x190 ACF, x191 day-of-week profile, x192 forecast backtest) all reduce
the event stream to one of three TINY mergeable frames before any real
work: the daily count series, the DISTINCT (user, day) activity frame,
and the hourly (n_events, n_err) grid. At 100 TB the event scan is the
whole cost — a production store maintains the rollups incrementally
and serves every dashboard query from them. This index persists them
as one row set per batch:

- ``<path>/daily``       — (day, c): per-batch daily counts.
- ``<path>/user_days``   — (k, day): per-batch distinct user-day
  activity.
- ``<path>/hourly``      — (hour, n_events, n_err).
- ``<path>/type_hourly`` — (hour, t, observed): per-type hourly
  counts (the x205 metric-alert grid).

Mergeability is exact, not approximate: counts are distributive (sum
of per-batch sums = global sum) and user-day rows are collapsed with
one DISTINCT at serve time, so a user-day split across two ingest
batches is still counted once. Serving reuses the operators' OWN
tails (events.acf_from_daily etc.), so the registry's stored twins
hash-match the full-recompute oracles — the store roundtrip is proven
lossless, the x57/x148/x172 price-list discipline.

Every table is written and read through ``store.py``'s commit log,
like dedup_index/ann_index/gate_index: a base build replaces each
table, an append commits its rows as one batch, and redelivering a
batch id replaces its own files (idempotent), so a stream fed through
``streaming.pipeline.batch_sink(ckpt, append_event_index, path)`` is
at-least-once safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafana_spark import batch_manifest as bm
from kafana_spark.operators import events as ev_ops
from kafana_spark.operators.events import US_PER_DAY, US_PER_HOUR
from kafana_spark.store import append_table, read_table, replace_table

DAILY_DIR = "daily"
USER_DAYS_DIR = "user_days"
HOURLY_DIR = "hourly"
TYPE_HOURLY_DIR = "type_hourly"
#: the tables ``_rollups`` returns, in its order
ROLLUP_DIRS = (DAILY_DIR, USER_DAYS_DIR, HOURLY_DIR, TYPE_HOURLY_DIR)


def _rollups(df: DataFrame, time_col: str, key_col: str,
             type_col: str, err_type: str):
    base = df.select(
        F.col(key_col).alias("k"),
        F.expr(f"unix_micros({time_col}) div {US_PER_DAY}").alias("day"),
        F.expr(f"unix_micros({time_col}) div {US_PER_HOUR}")
        .alias("hour"),
        F.col(type_col).alias("t"),
        (F.col(type_col) == err_type).cast("long").alias("is_err"))
    daily = base.groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    user_days = base.select("k", "day").distinct()
    hourly = (base.groupBy("hour")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum("is_err").alias("n_err")))
    type_hourly = (base.groupBy("hour", "t")
                   .agg(F.count(F.lit(1)).alias("observed")))
    return daily, user_days, hourly, type_hourly


def build_event_index(df: DataFrame, path: str, *,
                      time_col: str = "ts", key_col: str = "user_id",
                      type_col: str = "event_type",
                      err_type: str = "error") -> None:
    """One pass over the events (three combinable aggregates sharing
    the projected base frame), four rollup tables out, each replacing
    the table's appended batches."""
    for frame, sub in zip(_rollups(df, time_col, key_col, type_col,
                                   err_type), ROLLUP_DIRS):
        replace_table(frame, f"{path}/{sub}")


def append_event_index(df_new: DataFrame, path: str, batch: str, *,
                       time_col: str = "ts", key_col: str = "user_id",
                       type_col: str = "event_type",
                       err_type: str = "error",
                       seq_col: str = "event_id") -> None:
    """Fold a new event batch into the rollups — the same three
    aggregates over ONLY the new rows; merging happens at serve time
    by summing per-batch partials (exact, no base re-read). A
    redelivered batch id replaces its own files.

    The merge law needs ROW-DISJOINT batches (partial sums
    double-count duplicated events). The store keeps only aggregates
    — no ids survive to check exactly — so the enforceable guard is
    the content-fingerprint tripwire (r8 verdict #6): the same rows
    re-appended under a fresh batch id raise; same-id redelivery
    replaces its own files and passes. Partial overlaps remain
    the caller's contract (offset-partitioned ingest batches satisfy
    it by construction)."""
    meta = bm.fresh_batch_meta(df_new, seq_col, f"{path}/{DAILY_DIR}",
                               batch)
    for frame, sub in zip(_rollups(df_new, time_col, key_col, type_col,
                                   err_type), ROLLUP_DIRS):
        append_table(frame, f"{path}/{sub}", batch,
                     meta=meta if sub == DAILY_DIR else None)


def daily_from_store(spark: SparkSession, path: str) -> DataFrame:
    """(day, c) merged across batches — per-batch counts are partial
    sums of a distributive aggregate, so SUM is exact."""
    return (read_table(spark, f"{path}/{DAILY_DIR}")
            .groupBy("day").agg(F.sum("c").alias("c")))


def user_days_from_store(spark: SparkSession, path: str) -> DataFrame:
    """DISTINCT (k, day) merged across batches — the one DISTINCT
    collapses user-days split across ingest batches."""
    return (read_table(spark, f"{path}/{USER_DAYS_DIR}")
            .select("k", "day").distinct())


def hourly_from_store(spark: SparkSession, path: str) -> DataFrame:
    """(hour, n_err) grid merged across batches (grid = hours with
    any event, exactly the inline operator's grid)."""
    return (read_table(spark, f"{path}/{HOURLY_DIR}")
            .groupBy("hour").agg(F.sum("n_err").alias("n_err")))


def type_hourly_from_store(spark: SparkSession,
                           path: str) -> DataFrame:
    """(hour, t, observed) grid merged across batches — per-batch
    counts are distributive partial sums."""
    return (read_table(spark, f"{path}/{TYPE_HOURLY_DIR}")
            .groupBy("hour", "t")
            .agg(F.sum("observed").alias("observed")))


def metric_alerts_from_store(spark: SparkSession, path: str,
                             rules) -> DataFrame:
    """x205 served from the stored per-type hourly grid — the alert
    tail over the merged counts; no event is re-read. The grid (hours
    with any event) and every per-type total merge exactly, so the
    stored twin hash-matches the full-recompute oracle."""
    return ev_ops.metric_alerts_from_type_hourly(
        spark, type_hourly_from_store(spark, path), rules)


def rolling_active_from_store(spark: SparkSession, path: str,
                              window_days: int = 7) -> DataFrame:
    """x185 served from the store — the operator's own tail over the
    merged user-day frame; no event is re-read."""
    return ev_ops.rolling_active_from_user_days(
        user_days_from_store(spark, path), window_days)


def acf_from_store(spark: SparkSession, path: str,
                   max_lag: int = 7) -> DataFrame:
    """x190 served from the stored daily series."""
    return ev_ops.acf_from_daily(daily_from_store(spark, path),
                                 max_lag)


def dow_profile_from_store(spark: SparkSession,
                           path: str) -> DataFrame:
    """x191 served from the stored daily series."""
    return ev_ops.dow_profile_from_daily(daily_from_store(spark, path))


def forecast_backtest_from_store(spark: SparkSession, path: str,
                                 season: int = 7) -> DataFrame:
    """x192 served from the stored daily series."""
    return ev_ops.forecast_backtest_from_daily(
        daily_from_store(spark, path), season)


def error_spike_from_store(spark: SparkSession, path: str,
                           trail_hours: int = 24,
                           top_k: int = 20) -> DataFrame:
    """x187 served from the stored hourly grid."""
    return ev_ops.error_spike_from_hourly(
        hourly_from_store(spark, path), trail_hours, top_k)


def trend_from_store(spark: SparkSession, path: str) -> DataFrame:
    """x287's OLS trend served from the stored per-type hourly grid:
    hours collapse to per-type daily counts (exact — US_PER_DAY is
    24·US_PER_HOUR, so integer hour-index div 24 IS the day index for
    post-epoch timestamps), then the operator's own tail runs. No
    event is re-read; the grid merge is a distributive sum."""
    th = type_hourly_from_store(spark, path)
    d = (th.select("t", F.expr("hour div 24").alias("day"), "observed")
         .groupBy("t", "day").agg(F.sum("observed").alias("c")))
    return ev_ops.trend_from_daily(d)

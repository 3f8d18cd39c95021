"""Gap-based sessionization of event streams.

Group a user's events into sessions split wherever the inter-event gap
exceeds a threshold — the standard visit-analysis primitive over
crawl/access logs (how often does a client return, how long does a
visit run), and the same assign-by-ordered-scan shape the reference's
per-host visit pacing implies (core/http.py's per-host serialization
orders each host's requests in time; sessionization is that order made
queryable).

Algorithm (one shuffle): partition by the key, order by (ts,
tie-break id); an event opens a new session iff it has no predecessor
or ``ts - lag(ts) > gap``; the running sum of session-opens is the
per-key ``session_seq``. Both windows share the single (key) exchange
— Catalyst plans one Exchange + one Sort for the lag, the running
sum, and the final per-session aggregate.

Scale (100 TB of logs): state per task is bounded by the largest
single key's event count after the shuffle — the same bound any
correct sessionizer needs (a session is inherently a per-key ordered
scan). Keys are users/hosts (10^7-10^9, high cardinality, mild skew);
for a pathological hot key, pre-split by day before sessionizing, as
gap sessions cannot span a quiet day boundary. A streaming
counterpart with the identical semantic would be
``applyInPandasWithState`` keyed the same way.

Determinism: the event order (ts asc, id asc) is total, so session
assignment — and therefore every aggregate — is independent of
partitioning; value sums are emitted in integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    *,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str | None = None,
) -> DataFrame:
    """Assign gap-based sessions and aggregate one row per session.

    Returns (key, session_seq 1-based, n_events, start_ts, end_ts,
    duration_s[, value_sum_c]) — ``value_sum_c`` (integer cents) only
    when ``value_col`` is given.
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be positive, got {gap_seconds}")
    key, ts = F.col(key_col), F.col(ts_col)
    order = Window.partitionBy(key_col).orderBy(F.asc(ts_col),
                                                F.asc(id_col))
    prev = F.lag(ts).over(order)
    # interval arithmetic, not epoch casts: exact to the microsecond,
    # works on TIMESTAMP and TIMESTAMP_NTZ alike, independent of the
    # session timezone (no DST edge at any tz)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    opens = (prev.isNull() | ((ts - prev) > gap)).cast("long")
    running = Window.partitionBy(key_col).orderBy(
        F.asc(ts_col), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    sessioned = df.withColumn("__seq", F.sum(opens).over(running))
    aggs = [F.count(F.lit(1)).alias("n_events"),
            F.min(ts).alias("start_ts"),
            F.max(ts).alias("end_ts"),
            # interval -> long = whole seconds (truncated; durations
            # are non-negative so truncation == floor)
            (F.max(ts) - F.min(ts)).cast("long").alias("duration_s")]
    if value_col is not None:
        aggs.append(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                    .alias("value_sum_c"))
    return (sessioned.groupBy(key, F.col("__seq").alias("session_seq"))
            .agg(*aggs)
            .select(key_col,
                    F.col("session_seq").cast("long").alias("session_seq"),
                    "n_events", "start_ts", "end_ts", "duration_s",
                    *(["value_sum_c"] if value_col else [])))


def tumbling_rollup(
    df: DataFrame,
    *,
    width_seconds: int = 3600,
    ts_col: str = "ts",
    key_col: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window rollup: one row per (window_start[, key]) with
    n_events and optional integer-cent value sum — the batch face of
    the Structured Streaming windowed aggregation (same ``F.window``
    construct a ``readStream`` pipeline uses with a watermark).

    One combiner-friendly groupBy: partial aggregation map-side, the
    shuffle carries one row per (window, key) per task — safe at any
    event volume; skew only if a single (window, key) dominates, in
    which case pre-salt exactly as operators/politeness.py does.

    ``width_seconds`` must divide 86400 so windows align with every
    epoch-based bucketing convention (Spark aligns to the 1970 epoch,
    other engines to 2000-01-01; both are midnight-aligned, so
    day-dividing widths agree everywhere).
    """
    if width_seconds <= 0 or 86400 % width_seconds != 0:
        raise ValueError(
            f"width_seconds must divide 86400, got {width_seconds}")
    win = F.window(F.col(ts_col), f"{width_seconds} seconds")
    keys = [win["start"].alias("window_start")]
    if key_col is not None:
        keys.append(F.col(key_col))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                    .alias("value_sum_c"))
    return df.groupBy(*keys).agg(*aggs)


__all__ = ["sessionize", "tumbling_rollup"]

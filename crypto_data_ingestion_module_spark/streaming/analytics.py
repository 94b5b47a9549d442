"""Candle and event analytics behind two registry rows.

:func:`returns_ma_batch` is the per-key lag return + rolling mean of the
registered ``candle_returns_ma`` query, with configurable column names;
:func:`user_sessions_stream` is the streaming twin of the registered
``user_sessions_30m`` batch query on Spark's native session_window state
operator.

Cross-engine/fixed-point policy: moving averages and session totals use
the same micro-unit fixed-point sums as the batch queries (``dsum``
policy), so values are bit-identical to the batch plans and the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions.exactsum import fsum


def returns_ma_batch(
    candles: DataFrame,
    n: int = 4,
    key_col: str = "event_type",
    ts_col: str = "bucket_ts",
    close_col: str = "close",
) -> DataFrame:
    """Batch lag-return + n-bucket fixed-point moving average (the exact
    expressions of the registered ``candle_returns_ma`` query, with
    configurable column names)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    wf = w.rowsBetween(-(n - 1), 0)
    prev: Column = F.lag(close_col).over(w)
    # micro-unit exact window sum, split-long fast path: two long frame
    # sums recombine in DECIMAL(38,0) per row — same integer total as the
    # DECIMAL-per-row form (functions.exactsum parity note)
    _u = F.round(F.col(close_col) * 1_000_000.0).cast("long")
    _tot = (
        F.sum(F.shiftright(_u, 20)).over(wf).cast("decimal(38,0)")
        * F.lit(1 << 20)
        + F.sum(_u.bitwiseAND(F.lit((1 << 20) - 1))).over(wf).cast(
            "decimal(38,0)"
        )
    )
    ma = (_tot.cast("double") / 1_000_000.0) / F.count(F.lit(1)).over(
        wf
    ).cast("double")
    return candles.select(
        ts_col,
        key_col,
        close_col,
        # try_divide: a zero previous close must yield NULL, not an ANSI
        # error; the DuckDB oracle twin uses nullif for the same.
        (F.try_divide(F.col(close_col), prev) - F.lit(1.0)).alias("ret"),
        ma.alias(f"ma{n}"),
    )


def user_sessions_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    lateness: str = "1 hour",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming gap-based sessionization — the streaming twin of the
    registered ``user_sessions_30m`` batch query, on Spark's NATIVE
    session_window state operator (no custom state code: the operator
    merges windows that touch within ``gap`` and holds state only for
    OPEN sessions, evicting each one ``lateness`` past its close).

    Emits one row per FINALIZED session (append mode): a session is
    output exactly once, when the watermark passes its end + gap.  The
    aggregate mirrors the batch query's columns, with ``total_value``
    through the same micro-unit fixed-point sum, so a finalized
    streaming session is bit-identical to its batch twin (pinned by
    test)."""
    sw = F.session_window(F.col(ts_col), gap)
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(sw, F.col(key_col))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            # split-long exact micro-unit sum (functions.exactsum) — long
            # state in the streaming store instead of BigDecimal adds
            fsum(F.col(value_col), 1_000_000.0).alias("total_value"),
        )
        .select(
            key_col, "session_start", "session_end", "n_events", "total_value"
        )
    )

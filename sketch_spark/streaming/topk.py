"""Structured Streaming operators.

The reference is a single-pass streaming *ingestion* engine (every sketch
supports addh on a live stream; realccm_t adds time decay, mult.h:43-170).
The dedup north rule is batch-with-checkpoints, so streaming is a side
surface here: `windowed_counts` gives watermarked sliding-window key
counts — the HeavyKeeper/realccm_t "frequency with forgetting" analog
(old windows age out instead of exponential decay).  q41 runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked windowed counts per key.  Append/update-mode safe: late
    rows beyond the watermark are dropped (the decay analog)."""
    w = F.window(F.col(ts_col), window, slide or window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("win.start", "win.end", key_col, "cnt")
    )


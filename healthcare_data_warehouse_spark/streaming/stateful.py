"""Custom stateful streaming operator via applyInPandasWithState.

The escape hatch for streaming semantics the built-in windows can't
express (SURVEY/north_star: "applyInPandasWithState for custom stateful
operators"). Implemented here: a per-user running profile — cumulative
event count, cumulative value, and a high-value-burst flag (3+ events
above a value threshold inside one micro-batch history) — state carried
across micro-batches in an Arrow-backed pandas group state.

Scale shape: state is partitioned by the grouping key across executors;
each key's state is O(1) (four numbers), so state size grows with
cardinality, not event volume. GroupStateTimeout would evict idle users
in a production config.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, total_events long, total_value double, bursts long"
# total_value is carried as EXACT integer 1e-4 micro-units (the same
# discipline as the decimal-exact batch aggregates): a float running sum
# would depend on micro-batch boundaries and pandas' pairwise summation,
# so the drained result could never hash-match a one-shot oracle. The
# int64 sum is associative — stream ≡ batch bit-for-bit.
STATE_SCHEMA = "total_events long, micro_value long, bursts long"

HIGH_VALUE = 150.0
BURST_N = 3


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch of one user's events into the running state."""
    import numpy as np

    (user_id,) = key
    if state.exists:
        total_events, micro_value, bursts = state.get
    else:
        total_events, micro_value, bursts = 0, 0, 0

    for pdf in batches:
        total_events += len(pdf)
        # floor(v·1e4 + 0.5): the repo-wide half-up micro-unit round —
        # pure IEEE arithmetic, replayed verbatim by the DuckDB oracle.
        v = pdf["value"].to_numpy(dtype=np.float64)
        micro_value += int(np.floor(v * 10000.0 + 0.5).astype(np.int64).sum())
        if int((pdf["value"] > HIGH_VALUE).sum()) >= BURST_N:
            bursts += 1

    state.update((total_events, micro_value, bursts))
    yield pd.DataFrame(
        {"user_id": [user_id], "total_events": [total_events],
         "total_value": [micro_value / 10000.0], "bursts": [bursts]}
    )


def streaming_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream → per-user stateful profile updates."""
    from .pipelines import read_event_stream

    ev = read_event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_profiles(events: DataFrame) -> DataFrame:
    """Batch twin for parity checks: same totals (bursts depend on
    micro-batch boundaries, so parity covers the batch-invariant columns)."""
    from pyspark.sql import functions as F

    from ..functions.expressions import dsum

    return events.groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        dsum("value").alias("total_value"),
    )

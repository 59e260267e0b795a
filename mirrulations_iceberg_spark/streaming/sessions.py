"""Custom stateful streaming operator: gap-based sessionization.

The batch twin is ``w5_sessionize`` (windows over a static table); on a
stream, sessions must close when a user goes quiet, which built-in
windowed aggregation cannot express (``session_window`` covers the agg
case; this operator exists to demonstrate the general
``applyInPandasWithState`` pattern for operators Spark lacks). State
per user is O(1): the open session's bounds + running stats. An
event-time timeout fires when the watermark passes the open session's
gap deadline, so quiet users' sessions close without new input and
state never grows with history.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, session_value double"
)
STATE_SCHEMA = "start_us long, last_us long, n long, value_sum double"

GAP_SEC = 1800


def _sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    gap_us = GAP_SEC * 1_000_000
    closed: list[tuple] = []

    if state.hasTimedOut:
        start_us, last_us, n, value_sum = state.get
        closed.append((user_id, start_us, last_us, n, value_sum))
        state.remove()
    else:
        cur = state.get if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()
        vals = rows["value"].tolist()
        for t, v in zip(ts_us, vals):
            if cur is None:
                cur = (t, t, 1, float(v))
            elif t - cur[1] > gap_us:
                closed.append((user_id, *cur))
                cur = (t, t, 1, float(v))
            else:
                cur = (cur[0], t, cur[2] + 1, cur[3] + float(v))
        if cur is not None:
            state.update(cur)
            # Close the open session once the watermark passes its gap
            # deadline (ms, per the GroupState API).
            state.setTimeoutTimestamp(cur[1] // 1000 + GAP_SEC * 1000)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": pd.to_datetime([c[1] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[2] for c in closed], unit="us"),
                "n_events": [c[3] for c in closed],
                "session_value": [round(c[4], 4) for c in closed],
            }
        )


def sessionize_stream(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """events stream (ts timestamp, user_id, value) → closed sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


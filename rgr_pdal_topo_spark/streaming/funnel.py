"""Streaming conversion funnel (SURVEY.md §2.10): the batch
funnel_steps query as an ``applyInPandasWithState`` state machine —
the event-SEQUENCING member of the custom stateful family beside the
per-cell gridding fold (stateful.py).

State per user: (stage, rep_ts_us, rep_id) — the funnel stage reached
so far and the (timestamp, event_id) of the stage's representative
event (first touch).  Each micro-batch scans its events in the exact
(ts, event_id) order and advances the machine when the next stage's
event type arrives strictly later than the current representative and
within the conversion window — the same greedy-forward semantics the
batch query expresses with per-stage min-joins, so after draining an
in-order stream the final states reproduce the batch stage counts
exactly (pinned in tests/test_streaming_funnel.py).

Contract: the source is in-order per user (a production pipeline
pairs this with a watermark + sorted micro-batches within the allowed
lateness; the state machine itself never reorders).  Scale notes:
state is 3 ints per user, keyed by user_id — the state-store hash
partitioning is the only shuffle; terminal states are kept (eager
removal would restart the machine on post-conversion stragglers) and
a production deployment bounds the store with a state TTL instead.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: default funnel definition — mirrors queries._FUNNEL_STAGES /
#: _FUNNEL_WINDOW (48 h); the drain == batch test pins the two against
#: each other so they cannot drift silently.
STAGES: tuple[str, ...] = ("signup", "view", "click", "purchase")
WINDOW_S = 48 * 3600

_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),
    ]
)
_STATE = StructType(
    [
        StructField("stage", IntegerType()),
        StructField("rep_ts_us", LongType()),
        StructField("rep_id", LongType()),
    ]
)


def _advance(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    stage, rep_ts, rep_id = (
        state.get if state.exists else (0, None, None)
    )
    parts = [p for p in pdfs if len(p)]
    if parts:
        ev = pd.concat(parts, ignore_index=True).sort_values(
            ["ts_us", "event_id"], kind="mergesort"
        )
        window_us = WINDOW_S * 1_000_000
        for ts_us, eid, typ in zip(
            ev["ts_us"].astype("int64"),
            ev["event_id"].astype("int64"),
            ev["event_type"],
        ):
            if stage >= len(STAGES):
                break
            if typ != STAGES[stage]:
                continue
            if stage == 0:
                stage, rep_ts, rep_id = 1, int(ts_us), int(eid)
                continue
            later = ts_us > rep_ts or (
                ts_us == rep_ts and eid > rep_id
            )
            if later and ts_us <= rep_ts + window_us:
                stage, rep_ts, rep_id = stage + 1, int(ts_us), int(eid)
    # terminal state (stage == len) is KEPT: dropping it would restart
    # the machine when the user's post-conversion events arrive in a
    # later micro-batch (measured: 3 completed funnels re-opened and
    # their final emission regressed).  A production deployment bounds
    # the store with a state TTL (GroupStateTimeout.ProcessingTimeTimeout)
    # instead of eager removal.
    state.update(
        (stage, rep_ts if rep_ts is not None else -1,
         rep_id if rep_id is not None else -1)
    )
    yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})


def funnel_stream(events_stream: DataFrame) -> DataFrame:
    """events stream (event_id, ts, user_id, event_type, ...) ->
    per-user funnel stage updates (update mode; the LAST emission per
    user is its current stage)."""
    ev = events_stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _advance,
        outputStructType=_OUT,
        stateStructType=_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

"""Custom stateful streaming operators (SURVEY.md §2.12:
applyInPandasWithState).

The reference's only stateful behavior is a running record counter with
progress emission every 50k records (A6/T4, NDJSON_IMPLEMENTADO.md:113-117)
and per-month load bookkeeping (T5). Both are per-key running state →
``applyInPandasWithState`` with a tiny numeric state tuple (bounded state,
no matter the stream length).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROGRESS_OUTPUT_SCHEMA = "user_id long, total_events long, total_value double, emitted long"
PROGRESS_STATE_SCHEMA = "total_events long, total_value double, emitted long"


def running_progress(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-key running count/sum with stride-based progress emission: emits a
    row whenever the running count crosses another stride boundary (the
    reference logs every 50k records; here the stride is carried in the
    state)."""
    stride = 50
    if state.exists:
        total, value, emitted = state.get
    else:
        total, value, emitted = 0, 0.0, 0
    for pdf in pdfs:
        total += len(pdf)
        value += float(pdf["value"].sum())
    out = []
    while total >= (emitted + 1) * stride:
        emitted += 1
        out.append((key[0], total, round(value, 2), emitted))
    state.update((total, value, emitted))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "total_events", "total_value", "emitted"])


def attach_progress(events):
    """Wire the running-progress operator onto a streaming events DataFrame
    (grouped per user)."""
    return events.groupBy("user_id").applyInPandasWithState(
        running_progress,
        outputStructType=PROGRESS_OUTPUT_SCHEMA,
        stateStructType=PROGRESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a (bounded) streaming query to completion into a memory sink and
    return the result table — the test/bench harness path. ``output_mode``
    must be "complete" for unwatermarked aggregations."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)

"""Custom stateful streaming operators (``applyInPandasWithState``).

Spark's built-in watermarked operators (``window``,
``session_window``, ``dropDuplicates``) cover windowed counts,
sessions and dedup; this module is the extension point the
reference delegates to user handlers (``ConsumerHandler``,
``/root/reference/cdc_manager.go:43-47``) — arbitrary per-key state
evolved batch-by-batch, checkpointed by Structured Streaming.

Scale: state lives in the state store partitioned by the grouping
key (RocksDB-backed on a real cluster); each micro-batch touches
only the keys present in the batch, so state size ∝ live keys and
per-batch cost ∝ batch keys — independent of stream history length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    key_type: str = "bigint",
) -> DataFrame:
    """Per-key running (count, sum) across ALL micro-batches — the
    minimal custom-state operator: unlike a windowed aggregation the
    total never expires, and unlike batch re-aggregation each trigger
    touches only the keys in that batch.

    Output (update mode): one row per key present in the batch with
    the lifetime ``n_events``/``total`` so far.
    """
    out_schema = f"{key_col} {key_type}, n_events bigint, total double"
    state_schema = "n bigint, total double"

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [total]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_latest(
    changes: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    payload_col: str = "payload",
    key_type: str = "bigint",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Continuous per-key latest-wins state — the stateful streaming
    twin of ``cdc.apply.conflate_latest``: keeps (max ts, payload at
    max ts) per key across batches and emits the key's current value
    whenever it changes. With ``ttl_ms`` set, idle keys are evicted
    via processing-time timeout (bounded state for ephemeral keys).

    Late/duplicate events at or older than the stored ts are ignored
    (strict > — an equal-ts arrival is a replay or an unordered tie
    and never displaces the stored value) — replay-idempotent, which
    is what makes at-least-once delivery from the source effectively
    exactly-once downstream. Events needing a finer order than ts
    should encode a sequence number into ts (as conflate_latest's
    (ts, seq) does).
    """
    out_schema = f"{key_col} {key_type}, ts bigint, {payload_col} string"
    state_schema = "ts bigint, payload string"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ts0, payload0 = state.get if state.exists else (-1, None)
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            top = pdf.loc[pdf[ts_col].idxmax()]
            # strict >: an event at exactly the stored ts is a replay
            # (or an unordered tie) — keeping the stored value makes
            # the ignore-older claim hold and replays idempotent
            if int(top[ts_col]) > ts0:
                ts0, payload0 = int(top[ts_col]), top[payload_col]
                changed = True
        state.update((ts0, payload0))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if changed:
            yield pd.DataFrame(
                {key_col: [key[0]], "ts": [ts0], payload_col: [payload0]}
            )

    return changes.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )

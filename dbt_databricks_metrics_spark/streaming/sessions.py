"""Stateful sessionization and dedup over event streams.

Structured Streaming counterparts of ``ext/sessionize.py``:

* :func:`stateful_sessionizer` — gap-based sessions folded in
  ``applyInPandasWithState`` state, emitted when a successor event
  closes them.
* :func:`streaming_dedup` — exactly-once event dedup; a watermark bounds
  the per-key state in streaming mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stateful_sessionizer(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Demonstrates the arbitrary-stateful-operator path for session logic
    `F.session_window` cannot express (per-session derived values carried
    in state; here: event count + value sum folded incrementally). Per
    user, state holds the open session ``(start, last, n, value_sum)`` as
    epoch-micros/longs; each micro-batch folds its (sorted) events in, and
    a session is **emitted when a successor event arrives more than the
    gap after it** — the stream-end open session intentionally stays in
    state (it is not yet final). Late events older than the open session's
    last timestamp extend that session rather than reopening closed ones
    (closed sessions are immutable once emitted — bound state, no
    watermark required for this close-on-successor contract).

    Output (append mode): ``user_id, session_start, session_end,
    n_events, total_value`` — one row per *closed* session.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = gap_minutes * 60 * 1_000_000_000

    out_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp, "
        f"n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, value_sum double"

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        (user,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, "event_id"] if "event_id" in batch else ts_col)
        ts_ns = batch[ts_col].astype("int64").to_numpy()
        vals = (
            batch["value"].fillna(0.0).to_numpy()
            if "value" in batch
            else [0.0] * len(batch)
        )

        if state.exists:
            start, last, n, vsum = state.get
            start, last = start * 1000, last * 1000  # micros -> nanos
        else:
            start = last = None
            n, vsum = 0, 0.0

        closed: list[tuple] = []
        for t, v in zip(ts_ns, vals):
            t = int(t)
            if start is None:
                start, last, n, vsum = t, t, 1, float(v)
            elif t - last > gap_ns:
                closed.append((user, start, last, n, vsum))
                start, last, n, vsum = t, t, 1, float(v)
            else:
                last = max(last, t)
                n += 1
                vsum += float(v)

        state.update((start // 1000, last // 1000, n, vsum))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=[user_col, "session_start", "session_end", "n_events", "total_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"])
            out["session_end"] = pd.to_datetime(out["session_end"])
            yield out

    return events.groupBy(user_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup for at-least-once sources.

    Streaming: `dropDuplicatesWithinWatermark` — state for a key is kept
    only until the watermark passes it, so memory stays bounded while
    duplicates arriving within the lateness window are dropped. Batch:
    plain `dropDuplicates` (same contract, no state bound needed).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))

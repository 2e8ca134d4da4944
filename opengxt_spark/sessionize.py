"""Event sessionization: batch gaps-and-islands + stateful streaming.

Not in the reference (strictly batch WPS, SURVEY.md §2.12) — an extension
of the engine for the training-data-pipeline side: grouping an append-only
event/interaction feed into per-user sessions is the standard first step
of behavioral dataset construction, and it exercises the one Structured
Streaming surface the engine had not yet shipped: arbitrary stateful
processing with ``applyInPandasWithState``.

- ``sessionize_sql``: the batch operator as ONE engine-shared SQL text —
  LAG per user to detect gaps > threshold, running SUM of the break flags
  as the session index (the classic gaps-and-islands plan: one shuffle on
  user_id, two window passes over it, partial-agg rollup). Scale shape at
  10^12 events: everything after the single user_id exchange is
  within-partition; per-user state is two window frames, never a sort of
  the global table.
- ``stream_sessionize``: the same semantics incrementally — state per
  user is the OPEN session (start/last/count/sum as packed integers); a
  micro-batch folds its events in event-time order, emitting every session
  it CLOSES (a gap-crossing event, or event-time timeout when the
  watermark passes last_ts + gap). A complete replay therefore emits the
  batch result minus each user's final (never-closed) session —
  pytest-pinned (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import world

GAP_SECONDS = 1800


def sessionize_sql(gap_s: int = GAP_SECONDS) -> str:
    """Shared batch SQL: (user_id, sid, n_events, t_start, t_end, sum_v100).

    sum_v100 = exact integer sum of value*100 (the layer's 2-decimal
    contract) — order-independent, so the hash gate is deterministic under
    any partial-aggregation schedule."""
    # `events` is a base table registered in both engines — no layer CTE.
    return f"""
WITH lagd AS (
  SELECT user_id, event_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS v100,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
),
brk AS (
  SELECT user_id, event_id, ts, v100,
         CASE WHEN pts IS NULL OR ts > pts + INTERVAL {gap_s} SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM lagd
),
sess AS (
  SELECT user_id, ts, v100,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM brk
)
SELECT user_id, CAST(sid AS INT) AS sid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS t_start, MAX(ts) AS t_end,
       CAST(SUM(v100) AS BIGINT) AS sum_v100
FROM sess
GROUP BY user_id, sid
"""


def sessionize(spark: SparkSession, sf_dir: str,
               gap_s: int = GAP_SECONDS) -> DataFrame:
    world.register_tables(spark, sf_dir)
    return spark.sql(sessionize_sql(gap_s))


# ---------------------------------------------------------------------------
# Streaming stateful variant
# ---------------------------------------------------------------------------

_OUT_SCHEMA = (
    "user_id long, sid int, n_events long, t_start timestamp, "
    "t_end timestamp, sum_v100 long"
)
#: open-session state: (next sid, start us, last us, count, value sum) —
#: packed integers; timestamps as epoch-microseconds keep the state row
#: primitive (no tz round-trips through the state store).
_STATE_SCHEMA = "sid int, start_us long, last_us long, n long, v100 long"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    schema,
    gap_s: int = GAP_SECONDS,
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental sessionization of an append-only event feed.

    State per user_id is the one open session. Each micro-batch folds its
    (event-time-sorted) rows: events within ``gap_s`` of the last extend
    the session, a later event closes-and-emits it and opens the next.
    Event-time timeout closes sessions the watermark has passed and
    shrinks the user's state to a counter-only row: the sid counter must
    survive, or the next session would restart at sid=1. State is
    therefore one small row per user ever seen (open sessions only for
    users active inside the watermark horizon) — the cost of exact
    batch-parity numbering (RocksDB state store on a real cluster)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_s * 1_000_000

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )

    def fold(key, pdfs, state):
        (uid,) = key
        if state.exists:
            sid, start_us, last_us, n, v100 = state.get
        else:
            sid, start_us, last_us, n, v100 = 1, None, None, 0, 0
        closed = []

        def close():
            nonlocal sid, start_us, last_us, n, v100
            closed.append((uid, sid, n, start_us, last_us, v100))
            sid, start_us, last_us, n, v100 = sid + 1, None, None, 0, 0

        if state.hasTimedOut:
            if n > 0:
                close()
            # Keep a counter-only state row (n=0, no bounds) instead of
            # state.remove(): the per-user sid counter must survive the
            # timeout, or the user's NEXT session would restart at sid=1
            # and collide with already-emitted ids — diverging from the
            # batch gaps-and-islands numbering. No timeout is re-armed on
            # the counter row, so state is one tiny primitive row per user
            # ever seen (vs per ACTIVE user) — the documented cost of
            # exact batch-parity numbering.
            state.update((sid, None, None, 0, 0))
        else:
            for pdf in pdfs:
                pdf = pdf.sort_values(["ts", "event_id"])
                v100s = pdf["value"].to_numpy() * 100.0
                # half-away-from-zero, matching Spark/DuckDB ROUND (pandas
                # .round() is half-to-even and would diverge on exact .5
                # doubles outside the layer's 2-decimal contract).
                v100s = np.copysign(np.floor(np.abs(v100s) + 0.5), v100s)
                for ts, v in zip(
                    # normalize to epoch-us regardless of the Arrow batch's
                    # datetime64 resolution (ns vs us varies by channel)
                    pdf["ts"].astype("datetime64[us]").astype("int64"),
                    v100s.astype("int64"),
                ):
                    if last_us is not None and ts > last_us + gap_us:
                        close()
                    # min/max guards: an out-of-order row (possible only
                    # across unordered source files) folds into the open
                    # session without regressing its bounds; in-order
                    # replay reproduces the batch operator exactly.
                    start_us = ts if start_us is None else min(start_us, ts)
                    last_us = ts if last_us is None else max(last_us, ts)
                    n += 1
                    v100 += int(v)
            state.update((sid, start_us, last_us, n, v100))
            if last_us is not None:
                state.setTimeoutTimestamp(last_us // 1000 + gap_s * 1000)
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "sid", "n_events", "start_us",
                         "last_us", "sum_v100"],
            )
            out["t_start"] = pd.to_datetime(out.pop("start_us"), unit="us")
            out["t_end"] = pd.to_datetime(out.pop("last_us"), unit="us")
            yield out[["user_id", "sid", "n_events", "t_start", "t_end",
                       "sum_v100"]]

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

"""Custom stateful streaming operator via ``applyInPandasWithState``
(charter: "applyInPandasWithState for custom stateful operators"; the
reference has no streaming at all).

The operator keeps one running-total state per user — (event count,
value sum, last event time) — advanced by a SINGLE shared transition
function used by BOTH execution modes:

- batch (the registered, oracle-checked query): hash shuffle on
  user_id + ``sortWithinPartitions`` + ONE streaming ``mapInPandas``
  pass that detects user runs and folds ``_advance`` incrementally —
  the same run-streaming shape as ``mr.fold_by_key`` (measured ~18×
  faster than per-group ``applyInPandas`` at 150k groups, see
  ``mr.py``); a run spanning Arrow batches exercises the exact
  state-carry path the streaming mode uses between micro-batches;
- streaming (``stateful_running_total_stream``): the same transition
  applied incrementally per micro-batch via ``applyInPandasWithState``,
  state persisted in the state store between batches;
- streaming, new API (``stateful_running_total_tws``): the same
  transition on Spark 4's ``transformWithStateInPandas`` successor
  (``RunningTotalProcessor`` + RocksDB-backed ``ValueState``) — a
  one-line operator swap for migrating pipelines, state-machine
  equivalence unit-pinned and runner-integration tested where the
  protobuf dependency exists.

``tests/test_streaming.py`` asserts the two agree: replaying the same
events through N micro-batches yields exactly the batch result — the
state-transition associativity contract every production stateful
pipeline depends on.

Scale: state is 3 scalars per user (O(#distinct users), the minimum
possible); each micro-batch shuffles only on user_id.  The batch form
is one shuffle + one sorted Arrow sweep per partition, buffering only
the current run's state (not its rows).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: (n_events bigint, sum_value double, last_ts_us bigint)
STATE_SCHEMA = "n bigint, total double, last_us bigint"
OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
)


def _advance(state: tuple[int, float, int] | None, cols) -> tuple[int, float, int]:
    """The state transition: fold one batch of a single user's events
    into (count, sum, max event time in µs).  ``cols`` maps ``ts`` (ns
    timestamps or int64 ns) and ``value`` to equal-length columns: a
    pandas frame, or one user run's numpy slices in the batch fold.
    ``np.nansum`` skips nulls and sums pairwise, exactly as pandas'
    ``Series.sum`` does.  Associative and order-insensitive, so
    micro-batch boundaries cannot change the final state."""
    n, total, last_us = state if state is not None else (0, 0.0, 0)
    value = cols["value"]
    ts_us = (cols["ts"].astype("int64") // 1000).max()  # ns → µs
    return (
        n + len(value),
        total + float(np.nansum(value)),
        max(last_us, int(ts_us)),
    )


def _emit(
    user_ids: list[int], states: list[tuple[int, float, int]]
) -> pd.DataFrame:
    """One output frame, one row per ``(user id, state)`` pair."""
    n, total, last_us = zip(*states)
    return pd.DataFrame(
        {
            "user_id": np.asarray(user_ids, dtype="int64"),
            "n_events": np.asarray(n, dtype="int64"),
            "sum_value": np.asarray(total, dtype="float64"),
            "last_ts": pd.to_datetime(np.asarray(last_us, dtype="int64"), unit="us"),
        }
    )


@query(
    "stream_stateful_running_total",
    oracle="""
    SELECT user_id,
           count(*)                              AS n_events,
           round(sum(value), 2)                  AS sum_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stateful operator: the identical ``_advance``
    transition folded over each user's history, executed as hash
    shuffle + in-partition sort + ONE streaming ``mapInPandas`` sweep
    (run detection per Arrow batch, state carried across batch
    boundaries — ``mr.fold_by_key``'s design, which beats per-group
    ``applyInPandas`` ~18× at 150k groups).  The oracle recomputes it
    declaratively — proving the Python state machine implements exactly
    count/sum/max."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    parted = ev.repartition(F.col("user_id")).sortWithinPartitions("user_id")

    def run(batches) -> "pd.DataFrame":
        # each user run folds over numpy slices of the batch's columns,
        # and each batch emits one frame of the runs it closed
        cur_key: int | None = None
        cur_state: tuple[int, float, int] | None = None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            uid = pdf["user_id"].to_numpy()
            cols = {
                "ts": pdf["ts"].astype("int64").to_numpy(),
                "value": pdf["value"].to_numpy(),
            }
            starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
            ends = np.r_[starts[1:], n]
            keys: list[int] = []
            states: list[tuple[int, float, int]] = []
            for s, e in zip(starts, ends):
                k = int(uid[s])
                sub = {c: a[s:e] for c, a in cols.items()}
                if cur_state is not None and k == cur_key:
                    cur_state = _advance(cur_state, sub)
                    continue
                if cur_state is not None:
                    keys.append(cur_key)
                    states.append(cur_state)
                cur_key, cur_state = k, _advance(None, sub)
            if keys:
                yield _emit(keys, states)
        if cur_state is not None:
            yield _emit([cur_key], [cur_state])

    out = parted.mapInPandas(run, schema=OUTPUT_SCHEMA)
    return out.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_seen"),
    )


def stateful_running_total_stream(stream: DataFrame) -> DataFrame:
    """Streaming form: ``applyInPandasWithState`` advances the per-user
    state each micro-batch with the same ``_advance`` transition and
    emits the current state (update semantics).  Input must be a
    streaming DataFrame with (user_id, ts, value)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cur = state.get if state.exists else None
        for pdf in pdfs:
            cur = _advance(cur, pdf)
        if cur is not None:
            state.update(cur)
            yield _emit([int(key[0])], [cur])

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


try:  # StatefulProcessor imports cleanly on any pyspark 4.x; the
    # RUNTIME additionally needs protobuf (the TWS Python state-server
    # protocol), so execution is environment-gated, definition is not
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
except ImportError:  # pragma: no cover - pre-4.0 pyspark only
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = object  # type: ignore[assignment,misc]


class RunningTotalProcessor(StatefulProcessor):
    """The ``transformWithState`` form of the running-total state
    machine: one ``ValueState`` holding the same (n, total, last_us)
    tuple, advanced by the SAME ``_advance`` transition as both other
    forms.  Module-level (not a closure) so the state machine is
    directly unit-testable against the batch fold with a stub handle —
    the streaming-runner integration additionally needs protobuf
    (``tests/test_streaming.py`` gates on it)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("running_total", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues=None):
        cur = self._state.get() if self._state.exists() else None
        if cur is not None:
            # the state store round-trips through Arrow: re-coerce to
            # the exact Python types _advance's arithmetic assumes
            cur = (int(cur[0]), float(cur[1]), int(cur[2]))
        for pdf in rows:
            cur = _advance(cur, pdf)
        if cur is not None:
            self._state.update(cur)
            yield _emit([int(key[0])], [cur])

    def close(self) -> None:
        pass


def stateful_running_total_tws(stream: DataFrame) -> DataFrame:
    """Spark 4 twin of ``stateful_running_total_stream`` on the NEW
    stateful API — ``transformWithStateInPandas`` with a
    ``StatefulProcessor`` holding the identical (n, total, last_us)
    tuple in a ``ValueState``, advanced by the SAME ``_advance``
    transition.  ``transformWithState`` is the designated successor of
    ``applyInPandasWithState`` (typed state variables, timers, TTL,
    initial-state handoff); keeping both forms on one shared transition
    function means migrating a pipeline is a one-line operator swap,
    equivalence-pinned by ``tests/test_streaming.py``.

    Requires the RocksDB state store provider (the only provider the
    new API supports) — set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` before starting the query.

    Scale: identical to the twin — state is 3 scalars per user, one
    shuffle on user_id per micro-batch; RocksDB additionally spills
    state to local disk, lifting the executor-memory ceiling on
    #distinct users (the actual reason the new API matters at 100 TB).
    """
    return stream.groupBy("user_id").transformWithStateInPandas(
        RunningTotalProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


#: idle-eviction TTL for the expiring running-total variant
#: (processing-time ms): a key idle past this loses its state
TTL_IDLE_MS = 60 * 60 * 1000

#: the legacy state name the TTL processor migrates away from on init
#: (the deleteIfExists idiom — see ExpiringRunningTotalProcessor)
LEGACY_STATE_NAME = "running_total_legacy"


class ExpiringRunningTotalProcessor(RunningTotalProcessor):
    """TTL variant of the running-total state machine (VERDICT r7
    stretch item 8) — the remaining new-API surface a real
    sessionization pipeline uses:

    - the ``ValueState`` is registered with
      ``ttlDurationMs=TTL_IDLE_MS``: state a key has not UPDATED for
      the TTL window is expired by the store (processing-time
      semantics; every update resets the clock to now + ttl).  The
      transition logic is inherited unchanged — ``handleInputRows``
      already treats absent state as a fresh start, which is exactly
      the idle-eviction contract: a user returning after the idle
      window restarts from zero instead of resuming a stale total.
      This is the state-size control for unbounded key spaces at
      100 TB: without TTL, one-visit keys accumulate in RocksDB
      forever; with it, state size tracks ACTIVE keys.
    - ``init`` first calls ``handle.deleteIfExists(LEGACY_STATE_NAME)``
      — the documented schema-migration idiom for the new API: a
      renamed/retyped state variable's old column family is dropped
      exactly once per restart, so a redeployed pipeline never carries
      unreadable legacy state.

    Equivalence contract (pinned by the stub/TTL mini-runner tests):
    while every key stays inside its TTL window the emissions are
    IDENTICAL to the non-TTL twin's; once the mock clock idles a key
    past the TTL, its next batch starts from zero."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        handle.deleteIfExists(LEGACY_STATE_NAME)
        self._state = handle.getValueState(
            "running_total_ttl", STATE_SCHEMA, ttlDurationMs=TTL_IDLE_MS
        )


#: session gap for the timer-closed session operator (event-time ms)
SESSION_GAP_MS = 30 * 60 * 1000

SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_cents bigint, closed_by string"
)
_SESSION_STATE_SCHEMA = "n bigint, cents bigint, last_ms bigint"


class SessionTimeoutProcessor(StatefulProcessor):
    """Timer-driven session close on the ``transformWithState`` API —
    the one piece of the new stateful surface the running-total twin
    does not exercise: an EVENT-TIME timer registered at
    ``last_event + gap`` fires when the WATERMARK passes it, emitting
    the closed session and clearing state — i.e. sessions close
    because time provably advanced past the gap (watermark semantics),
    not because another record for the key happened to arrive.  This
    is the mechanism behind every "emit the session when the user goes
    quiet" pipeline; the native ``session_window`` aggregation
    (``stream_session_window``) gives the same windows declaratively —
    the processor form is for sessions needing CUSTOM state (here the
    integer-cent sum rides along) or custom close actions.

    Timer discipline: ONE live timer per key — the previous timer is
    deleted before registering the extended one (Spark fires every
    registered timer; a per-event leftover timer would close sessions
    early).  Input is processed BEFORE expired timers in the runtime
    (pyspark 4.1 ``stateful_processor_util``), so an event arriving
    after the gap would cancel an overdue timer and silently merge two
    sessions — the input path therefore walks events in timestamp
    order and SPLITS on any gap violation itself, emitting the stale
    session with ``closed_by='gap'`` (review r7s4); the timer path
    (``closed_by='timer'``) remains the only way a session closes when
    the key simply goes quiet.  An event AT exactly last + gap still
    extends (strict-inequality split, matching the timer's
    watermark-passes-expiry semantics).  Cents are summed PER EVENT as
    integers, so the state is invariant to micro-batch and Arrow-chunk
    boundaries (a per-chunk rounded sum is not).  Each session's row
    appears exactly once.

    Scale: state is 3 scalars + 1 timer per ACTIVE key (RocksDB-backed
    — inactive keys' state was emitted and cleared); one shuffle on
    the key per micro-batch, the same profile as the other stateful
    forms."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("session", _SESSION_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues=None):
        cur = self._state.get() if self._state.exists() else None
        if cur is not None:
            cur = (int(cur[0]), int(cur[1]), int(cur[2]))
            self._handle.deleteTimer(cur[2] + SESSION_GAP_MS)
        events = []
        for pdf in rows:
            for ts, v in zip(pdf["ts"], pdf["value"]):
                events.append(
                    (
                        int(pd.Timestamp(ts).value // 1_000_000),
                        int(round(float(v) * 100)),
                    )
                )
        events.sort()
        closed = []
        for ts_ms, cents in events:
            if cur is not None and ts_ms > cur[2] + SESSION_GAP_MS:
                closed.append((int(key[0]), cur[0], cur[1], "gap"))
                cur = None
            cur = (
                (1, cents, ts_ms)
                if cur is None
                else (cur[0] + 1, cur[1] + cents, max(cur[2], ts_ms))
            )
        if cur is not None:
            self._state.update(cur)
            self._handle.registerTimer(cur[2] + SESSION_GAP_MS)
        if not closed:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    closed,
                    columns=["user_id", "n_events", "sum_cents", "closed_by"],
                )
            ]
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        cur = self._state.get() if self._state.exists() else None
        if cur is None:  # timer raced a cleared key: nothing to close
            return iter(())
        self._state.clear()
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "n_events": [int(cur[0])],
                        "sum_cents": [int(cur[1])],
                        "closed_by": ["timer"],
                    }
                )
            ]
        )

    def close(self) -> None:
        pass


def session_close_tws(stream: DataFrame) -> DataFrame:
    """Wire ``SessionTimeoutProcessor`` over a watermarked stream —
    ``timeMode='eventTime'`` makes ``registerTimer`` expiries compare
    against the WATERMARK, so a session only closes when late data can
    no longer reopen it.  Requires the RocksDB state store provider
    like the running-total twin."""
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionTimeoutProcessor(),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


#: top-k size for the ListState leaderboard processor
LEADERBOARD_K = 3

_LEADERBOARD_OUTPUT_SCHEMA = "user_id bigint, rank int, value_cents bigint"


class TopKLeaderboardProcessor(StatefulProcessor):
    """``ListState`` surface of the ``transformWithState`` API (the
    typed state variable the running-total/TTL/timer processors don't
    touch): a per-key top-``LEADERBOARD_K`` leaderboard of value
    cents, maintained as a SORTED bounded list — the shape of
    per-user best-scores / largest-orders / top-sources state.  The
    micro-batch step merges the incoming batch's values into the
    stored list and keeps the K largest (descending, deterministic),
    so state size is O(K) per key regardless of history — the bounded
    alternative to collecting a key's full event list.  Emits the
    (rank, value) rows of the CURRENT leaderboard each batch the key
    appears in (update semantics).  Integer cents per event, so the
    merge is exact and chunk/micro-batch-boundary invariant.

    Scale: K scalars per key in RocksDB; one shuffle on the key per
    micro-batch — identical profile to the ValueState forms, with
    ``ListState.put`` replacing the tuple update."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getListState("leaderboard", "cents bigint")

    def handleInputRows(self, key, rows, timerValues=None):
        current = (
            [int(t[0]) for t in self._state.get()]
            if self._state.exists()
            else []
        )
        for pdf in rows:
            current.extend(
                int(round(float(v) * 100)) for v in pdf["value"]
            )
        top = sorted(current, reverse=True)[:LEADERBOARD_K]
        self._state.put([(c,) for c in top])
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(top),
                "rank": list(range(1, len(top) + 1)),
                "value_cents": top,
            }
        )

    def close(self) -> None:
        pass


_TYPECOUNT_OUTPUT_SCHEMA = "user_id bigint, event_type string, n bigint"


class EventTypeCountsProcessor(StatefulProcessor):
    """``MapState`` surface of the ``transformWithState`` API — a
    per-key map of event_type → count, the canonical per-entity
    sub-keyed state (per-user per-action counters, per-device
    per-error-code tallies) that a ValueState tuple cannot hold when
    the sub-key domain is open-ended.  Each micro-batch increments
    only the map entries the batch touches (point reads/writes —
    RocksDB stores each map entry as its own key, so an update never
    rewrites the whole map) and emits the touched entries' new counts
    (update semantics).

    Scale: state is |distinct sub-keys| entries per key, each updated
    in place; the emitted delta is only the touched entries — both
    independent of history length."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getMapState(
            "type_counts", "event_type string", "n bigint"
        )

    def handleInputRows(self, key, rows, timerValues=None):
        touched: dict[str, int] = {}
        for pdf in rows:
            for et in pdf["event_type"]:
                touched[str(et)] = touched.get(str(et), 0) + 1
        out = []
        for et, delta in sorted(touched.items()):
            prev = (
                int(self._state.getValue((et,))[0])
                if self._state.containsKey((et,))
                else 0
            )
            new = prev + delta
            self._state.updateValue((et,), (new,))
            out.append((int(key[0]), et, new))
        yield pd.DataFrame(out, columns=["user_id", "event_type", "n"])

    def close(self) -> None:
        pass

"""Custom stateful streaming operators via applyInPandasWithState.

The reference's only stateful op is the implicit join state of its
stream-stream join (SURVEY.md §2.8-T6). This module adds the operator
its empty risk-calculation stub implies: a per-customer running risk
aggregate that updates as events arrive — state the built-in windowed
aggregates can't express (running stats over ALL history per key with
custom emission logic).

The batch twin is operators.aggregates.risk_calculation: replaying a
finite stream through this operator converges to the same totals.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _in_order(
    batches: Iterator[pd.DataFrame], by: Sequence[str]
) -> pd.DataFrame | None:
    """One group's micro-batch chunks as one frame, stably sorted on the
    columns `by`, so rows tied on every column keep their arrival order;
    None when the group brought no rows."""
    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(
        list(by), kind="mergesort"
    )


OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_score double, avg_score double"
STATE_SCHEMA = "n bigint, total double"


def running_risk_stats(
    events: DataFrame,
    user_col: str = "user_id",
    score_col: str = "value",
    idle_ttl_ms: int | None = None,
    emit_eviction_marker: bool = False,
) -> DataFrame:
    """Continuously-updated per-customer risk stats. Emits one row per
    (key, micro-batch) with the post-batch running aggregate.

    State is two numbers per customer — at 100 TB keyspace this lives
    in the RocksDB state store (see session.py) and scales with
    distinct keys, not events. With the default `idle_ttl_ms=None`
    state lives forever (the reference's 30-customer shape); pass a TTL
    for unbounded keyspaces — a key whose state sees no event for
    `idle_ttl_ms` of processing time is EVICTED (a later event simply
    restarts its running aggregate from zero), so state tracks the
    active keyset, not the all-time keyset.

    `emit_eviction_marker=True` turns evictions into CDC-style
    tombstones (`n_events = -1`) instead of silent drops, so downstream
    consumers (and tests) can OBSERVE state retirement — otherwise an
    eviction happens in a timeout-only micro-batch that emits nothing
    and is indistinguishable from idleness.
    """
    user, score = user_col, score_col

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            if emit_eviction_marker:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [-1],
                        "total_score": [0.0],
                        "avg_score": [0.0],
                    }
                )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[score].sum())
        state.update((n, total))
        if idle_ttl_ms is not None:
            state.setTimeoutDuration(idle_ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_score": [total],
                "avg_score": [total / n if n else 0.0],
            }
        )

    return (
        events.select(user, score)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def dedup_guard(
    events: DataFrame, key_col: str = "user_id", seq_col: str = "event_id"
) -> DataFrame:
    """Stateful idempotency guard: per key, remember the highest
    sequence id seen and emit only rows with a NEW higher id — the
    at-least-once → effectively-once adapter in front of non-idempotent
    sinks. State is one bigint per key (watermark-less variant of
    dropDuplicates for monotonic sequence ids).

    Effectively-once holds WITHIN a micro-batch too: each chunk is
    sorted and de-duplicated on the sequence column before the
    high-water filter, so a same-batch retry (the common at-least-once
    case) emits one copy, not every copy."""
    kname, sname = key_col, seq_col

    def guard(key, batches, state):
        high = state.get[0] if state.exists else -1
        out = []
        for pdf in batches:
            pdf = pdf.sort_values(sname).drop_duplicates(subset=[sname])
            fresh = pdf[pdf[sname] > high]
            if len(fresh):
                high = int(fresh[sname].max())
                out.append(fresh)
        state.update((high,))
        yield (
            pd.concat(out)
            if out
            else pd.DataFrame({kname: [], sname: []}).astype("int64")
        )

    return (
        events.select(key_col, seq_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            guard,
            outputStructType=f"{key_col} bigint, {seq_col} bigint",
            stateStructType="high bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FUNNEL_OUTPUT_SCHEMA = (
    "user_id bigint, stage bigint, t1_us bigint, t2_us bigint, t3_us bigint"
)
FUNNEL_STATE_SCHEMA = "t1 bigint, t2 bigint, t3 bigint"


def funnel_stage_tracker(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of plans.analytics.q_event_funnel: per-user
    ordered-funnel progression tracked in state. Stage k completes at
    the earliest event of type stages[k] AFTER stage k-1's completion;
    state is three epoch-microsecond stamps per user (fixed-size — the
    RocksDB store scales with the keyset, not event volume).

    Emits the user's (stage, t1..t3) after every micro-batch that
    advances it (update semantics).

    PRECONDITION — ordered replay: convergence to the batch funnel is
    guaranteed only when the source replays events in global event-time
    order (true of the repo's file-replay twins, which emit sorted
    parquet). Within a batch the group's rows are sorted by event time
    before the state transition runs, so any micro-batch SPLIT of an
    ordered stream converges; but the per-batch sort cannot recover
    CROSS-batch disorder — a late-arriving earlier `view`/`click`
    after a later stage already stamped is silently ignored (state
    stamps never rewind), which the batch query would have counted.
    Consumers with out-of-order sources need a watermark-buffered
    reorder stage upstream; this operator is not late-data-tolerant."""
    s1, s2, s3 = stages
    user, typ, ts = user_col, type_col, ts_col

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        pdf = _in_order(batches, (ts,))
        if pdf is None:
            return
        advanced = False
        for _, row in pdf.iterrows():
            et = row[typ]
            t_us = int(row[ts].value // 1_000)  # pandas ns -> µs
            if t1 is None:
                if et == s1:
                    t1, advanced = t_us, True
            elif t2 is None:
                if et == s2 and t_us > t1:
                    t2, advanced = t_us, True
            elif t3 is None:
                if et == s3 and t_us > t2:
                    t3, advanced = t_us, True
        if advanced:
            state.update((t1, t2, t3))
            stage = (t1 is not None) + (t2 is not None) + (t3 is not None)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "stage": [stage],
                    "t1_us": [t1],
                    "t2_us": [t2],
                    "t3_us": [t3],
                }
            )

    return (
        events.select(user, typ, ts)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TRANSITION_OUTPUT_SCHEMA = "user_id bigint, from_type string, to_type string, n bigint"
TRANSITION_STATE_SCHEMA = "last_type string, last_ts_us bigint"


def transition_tracker(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Streaming twin of plans.warehouse.q_event_transition_matrix:
    per-user first-order transition counts tracked in state. State is
    ONE (last_type, last_ts) pair per user — fixed-size regardless of
    event volume — and each micro-batch emits the (from, to) counts it
    observed, so the downstream `groupBy(from,to).sum(n)` over the
    emitted stream equals the batch lead()-window matrix.

    Same ordered-replay PRECONDITION as funnel_stage_tracker: rows are
    sorted on `order_cols` (event time, then the event id that breaks
    its ties, as the batch window orders them) within each batch, so
    any micro-batch split of an ordered stream converges; cross-batch
    disorder would thread a late event into the wrong position (the
    batch window would not). The equivalence is certified by
    tests/test_stateful_recovery.py::test_transition_tracker_matches_batch."""
    user, typ = user_col, type_col
    ts = order_cols[0]

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_type, last_ts = state.get if state.exists else (None, None)
        pdf = _in_order(batches, order_cols)
        if pdf is None:
            return
        counts: dict = {}
        for _, row in pdf.iterrows():
            et = row[typ]
            t_us = int(row[ts].value // 1_000)
            if last_type is not None:
                pair = (last_type, et)
                counts[pair] = counts.get(pair, 0) + 1
            last_type, last_ts = et, t_us
        state.update((last_type, last_ts))
        if counts:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(counts),
                    "from_type": [p[0] for p in counts],
                    "to_type": [p[1] for p in counts],
                    "n": list(counts.values()),
                }
            )

    return (
        events.select(user, typ, *order_cols)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=TRANSITION_OUTPUT_SCHEMA,
            stateStructType=TRANSITION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_query_state(spark, checkpoint: str, **options):
    """Read a streaming query's CHECKPOINTED STATE as a DataFrame via
    the Spark 4 `statestore` data source — the observability tool for
    stateful pipelines at scale: inspect hot keys, audit state size per
    partition, or verify an aggregate's internal totals without
    stopping the query. Returns rows of (key struct, value struct,
    partition_id); options pass through (e.g. batchId=N for
    time-travel to an earlier micro-batch, storeName for join state).

    The reference's join pipeline keeps all its state opaque inside
    the checkpoint (`sparkpykafkajoin.py:152`); this surfaces it —
    `tests/test_streaming.py::test_statestore_reader_exposes_agg_state`
    certifies the state matches the query's own output."""
    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(checkpoint)


TOPK_OUTPUT_SCHEMA = "window_start timestamp, rank int, event_type string, n bigint"
TOPK_STATE_SCHEMA = "types array<string>, counts array<bigint>"


def windowed_topk(
    events: DataFrame,
    window_minutes: int = 10,
    delay: str = "10 minutes",
    k: int = 3,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming windowed TOP-K: the k most frequent event types per
    tumbling event-time window, emitted ONCE per window when the
    watermark closes it. Built-in streaming aggregation can count per
    (window, type) but cannot RANK within a window (window functions
    are unsupported on streams); this is the canonical
    applyInPandasWithState + EventTimeTimeout construction:

    - key = (window start, window-end epoch millis) — the end millis
      computed in SQL so the event-time timeout is correct under ANY
      session timezone; state = the window's (type, count) vector —
      bounded by the number of DISTINCT types, not by event volume
      (each micro-batch is pre-reduced with value_counts before it
      touches state);
    - nothing is emitted while the window is open (append semantics —
      every emission is final, safe for downstream joins/sinks);
    - when the watermark passes window end, the registered event-time
      timeout fires, the state sorts its ≤|types| entries, emits k
      rows, and deletes itself — state lifetime is window + lateness,
      so total state is O(active_windows × distinct_types).

    Ties broken by (count desc, type asc) — deterministic across
    partitionings. The batch twin (groupBy window/type + rank ≤ k) is
    certified equal by
    tests/test_streaming.py::test_windowed_topk_matches_batch.

    UPGRADE NOTE: adding wend_ms to the grouping key (round 5, for
    tz-independent timeouts) changed the STATE KEY SCHEMA. A query
    restarted from a checkpoint written by the pre-r5 single-key
    version will fail state-schema compatibility (or mis-key state)
    rather than resume — use a fresh checkpointLocation when
    upgrading across that change."""
    typ, ts = type_col, ts_col

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            types, counts = state.get
            order = sorted(zip(types, counts), key=lambda p: (-p[1], p[0]))[:k]
            state.remove()
            yield pd.DataFrame(
                {
                    "window_start": [key[0]] * len(order),
                    "rank": list(range(1, len(order) + 1)),
                    "event_type": [p[0] for p in order],
                    "n": [int(p[1]) for p in order],
                }
            )
            return
        acc: dict = (
            dict(zip(state.get[0], state.get[1])) if state.exists else {}
        )
        for pdf in batches:
            # pre-reduce the batch before it touches state: state work
            # is O(distinct types), never O(rows)
            for t, c in pdf[typ].value_counts().items():
                acc[t] = acc.get(t, 0) + int(c)
        state.update((list(acc.keys()), [int(v) for v in acc.values()]))
        # fire when the watermark passes window end (must be set
        # strictly beyond the current watermark: a straggler batch for
        # an already-closable window re-arms one watermark tick ahead).
        # The end comes from key[1] — epoch millis computed in SQL via
        # unix_millis(window.end), NOT key[0].timestamp(): the rendered
        # timestamp key is in spark.sql.session.timeZone, and treating
        # it as UTC would skew the timeout by the tz offset under any
        # non-UTC session timezone (windows finalizing early/late).
        end_ms = int(key[1])
        state.setTimeoutTimestamp(max(end_ms, state.getCurrentWatermarkMs() + 1))

    return (
        events.withWatermark(ts_col, delay)
        # keep the watermarked ts attribute in the projection: the
        # event-time-timeout analyzer requires it to survive up to the
        # stateful operator, not merely appear below it
        .select(
            F.window(ts_col, f"{window_minutes} minutes")["start"].alias("wstart"),
            F.unix_millis(
                F.window(ts_col, f"{window_minutes} minutes")["end"]
            ).alias("wend_ms"),
            F.col(typ),
            F.col(ts_col),
        )
        # wend_ms is a 1:1 function of wstart — it refines nothing,
        # it just rides the key so the timeout math is tz-independent
        .groupBy("wstart", "wend_ms")
        .applyInPandasWithState(
            update,
            outputStructType=TOPK_OUTPUT_SCHEMA,
            stateStructType=TOPK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


EWMA_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, ewma double"
EWMA_STATE_SCHEMA = "n bigint, s double"


def ewma_tracker(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, str] = ("us", "event_id"),
) -> DataFrame:
    """Streaming twin of the batch `ewma_user_value` query: per-user
    exponentially-weighted moving average, α = 1/2, zero-initialized —
    state is ONE (count, smoothed-value) pair per user where the batch
    twin materializes the user's full sorted history.

    Bit-equality with the batch fold holds because each step
    s' = s/2 + v/2 is two exact exponent shifts and one IEEE add, and
    the fold ORDER is preserved: rows within a micro-batch are sorted
    by `order_cols` before folding, and batch boundaries must respect
    per-user event-time order (true for any in-order replay; certified
    by tests/test_streaming.py::test_streaming_ewma_matches_batch).
    Out-of-order arrival WITHIN a micro-batch is absorbed by the sort;
    across micro-batches an EWMA is inherently order-sensitive — feed
    it from a watermarked, sorted upstream or accept processing order
    (same contract as any streaming recurrence).

    Emits the post-batch (n_events, ewma) per touched user, update
    mode. State: two scalars per key — keyset-bounded, event-volume
    independent, same class as running_risk_stats."""
    user, val = user_col, value_col

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        pdf = _in_order(batches, order_cols)
        if pdf is not None:
            for v in pdf[val].tolist():
                s = s / 2.0 + float(v) / 2.0
                n += 1
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [s]}
        )

    return (
        events.select(user, *order_cols, val)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DEBOUNCE_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, n_kept bigint"
DEBOUNCE_STATE_SCHEMA = "last_kept_us bigint, n_events bigint, n_kept bigint"


def debounce_tracker(
    events: DataFrame,
    threshold_us: int = 86_400_000_000,
    user_col: str = "user_id",
    order_cols: tuple[str, str] = ("us", "event_id"),
) -> DataFrame:
    """Streaming twin of the batch `debounce_rate_limit` query: keep an
    event iff ≥ threshold has passed since the last KEPT event — the
    rate-limiter whose keep-set depends on itself. State is THREE
    integers per user (last kept timestamp, totals) where the batch
    twin materializes the user's full sorted history; integer compares
    only, so stream and batch agree EXACTLY (no float concerns at
    all). Same ordering contract as ewma_tracker: in-batch rows are
    sorted on `order_cols`, batch boundaries must respect per-user
    event-time order (any in-order replay; certified by
    tests/test_streaming.py::test_streaming_debounce_matches_batch)."""
    user = user_col
    o1, o2 = order_cols
    thr = int(threshold_us)

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last, n, kept = (
            state.get if state.exists else (-(1 << 62), 0, 0)
        )
        pdf = _in_order(batches, order_cols)
        if pdf is not None:
            for t in pdf[o1].tolist():
                n += 1
                if int(t) - last >= thr:
                    last, kept = int(t), kept + 1
        state.update((last, n, kept))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_kept": [kept]}
        )

    return (
        events.select(user, o1, o2)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=DEBOUNCE_OUTPUT_SCHEMA,
            stateStructType=DEBOUNCE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

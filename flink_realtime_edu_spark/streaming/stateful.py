"""Custom keyed state — SURVEY.md §2.9 T6/T7 — and the one keyed-state
adapter every streaming automaton runs on.

The reference's DWD/DWS jobs keep per-key Flink ValueState: the
first-visit date for new-vs-returning repair, last-value caches, and
timers for timeout detection [R]. Spark offers two APIs:

- ``transformWithStateInPandas`` (Spark 4 StatefulProcessor) — the
  richer one (typed state, timers), but its state protocol needs the
  ``protobuf`` package, which this environment lacks → gated behind
  HAS_TRANSFORM_WITH_STATE and exercised only when available.
- ``applyInPandasWithState`` (GroupState) — protobuf-free and fully
  sufficient for ValueState semantics → the default implementation.

Every keyed automaton (the CEP state machines of streaming/cep.py and
the abandoned-click timer here) is a GroupState-free
:class:`KeyedCore`: ``feed`` a call's rows, ``on_watermark`` when the
key's timer fires, and ``save`` the state to its row and next
deadline. :func:`keyed_stream` is the one adapter between a core and
``applyInPandasWithState``: it owns the state row, the sorted
per-call rows (:func:`_sorted_rows`), the timeout dispatch, update
versus remove, re-arming the timer Spark clears on every call, and the
output frame. A core without ``on_watermark`` runs with no watermark
and no timeout. Because a core never sees GroupState, a test can
replay it exactly as Spark would, with no Spark.

Here: (T6) first-visit tagging — per-user state holding the earliest
seen event day; every event is emitted tagged is_new (first-ever
visit day) vs returning — streaming form of
queries.time_semantics.new_vs_returning_daily; and (T7)
timeout-timer detection of abandoned clicks on event-time timers —
streaming form of abandoned_clicks_daily. Tests assert agreement with
the oracle-checked batch twins. First-visit tagging stays a direct
GroupState function: it emits one row per input row chunk by chunk,
with no sort, in the caller's output mode.

Scale: state is partitioned by the grouping key across executors
(RocksDB state store in production); only a date string per user, so
state size is O(distinct users).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "user_id BIGINT, event_id BIGINT, day STRING, is_new BOOLEAN"
STATE_SCHEMA = "first_day STRING"

try:  # protobuf-gated (see module docstring)
    import google.protobuf  # noqa: F401

    HAS_TRANSFORM_WITH_STATE = True
except ImportError:
    HAS_TRANSFORM_WITH_STATE = False


class KeyedCore(NamedTuple):
    """One keyed automaton, free of GroupState. ``st`` is what
    ``load`` makes of the key's state row (``None`` for a new key);
    ``wm`` is the event-time watermark in epoch ms (``None`` when the
    core is untimed).

    - ``feed(st, rows, wm) -> out`` consumes one call's rows.
      ``rows()`` returns them concatenated and sorted on ``sort_by``
      (arrival order when ``None``) and is built only when called, so
      a key that ignores its input never pays for it.
    - ``on_watermark(st, wm) -> out`` runs when the key's timer fires
      (timeouts, trailing negatives, TTL eviction). ``None`` makes the
      core untimed: no watermark, no timeout.
    - ``save(st, wm)`` returns ``(row, deadline_ms)``, or ``None`` to
      remove the key's row. A ``deadline_ms`` of ``None`` arms no
      timer, and neither does one at or below ``wm``.

    ``out`` is a list of output tuples without the key column."""

    output_schema: str
    state_schema: str
    load: Callable
    feed: Callable
    save: Callable
    on_watermark: Callable | None = None
    sort_by: tuple[str, ...] | None = ("ts_us", "__tb")


def _sorted_rows(
    pdf_iter: Iterable[pd.DataFrame], by: tuple[str, ...] | None = ("ts_us", "__tb")
) -> pd.DataFrame:
    """One key's rows of one call, every Arrow chunk concatenated and
    sorted ONCE on ``by`` (kept in arrival order when ``by`` is
    None). A key's micro-batch arrives as several Arrow chunks
    (arrow.maxRecordsPerBatch) in shuffle order: sorting each chunk
    alone is not a global sort and would let an automaton consume
    events out of event-time order for keys above that many rows per
    batch. The sort holds a single key's single call in memory —
    bounded by per-key batch volume, not stream length."""
    chunks = list(pdf_iter)
    if not chunks:
        return pd.DataFrame(columns=["ts_us", "event_type", "__v"])
    pdf = pd.concat(chunks, ignore_index=True)
    return pdf if by is None else pdf.sort_values(list(by))


def _keyed_fn(core: KeyedCore):
    """The ``applyInPandasWithState`` function of ``core``."""
    columns = [f.split()[0] for f in core.output_schema.split(",")]
    timed = core.on_watermark is not None

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs() if timed else None
        st = core.load(state.get if state.exists else None)
        if state.hasTimedOut:
            out = core.on_watermark(st, wm)
        else:
            out = core.feed(st, lambda: _sorted_rows(pdf_iter, core.sort_by), wm)
            for _ in pdf_iter:  # drain what the core did not read
                pass
        saved = core.save(st, wm)
        if saved is None:
            if state.exists:
                state.remove()
        else:
            row, deadline = saved
            state.update(row)
            # Spark clears the timer on every call and rejects one at
            # or below the watermark
            if deadline is not None and deadline > wm:
                state.setTimeoutTimestamp(deadline)
        if out:
            yield pd.DataFrame([(key[0], *t) for t in out], columns=columns)

    return fn


def keyed_stream(
    events: DataFrame,
    cols: list[Column | str],
    core: KeyedCore,
    select: list[Column | str],
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Run ``core`` over ``events`` projected to ``cols`` (the first is
    the key, named ``user_id``), grouped by key, in append mode, and
    project the output to ``select``. A timed core gets the
    ``ts_col`` watermark with ``watermark_delay`` and event-time
    timeouts; the watermark column joins the projection so the
    timers stay driven by it. The core and its adapter pickle by value
    like every function of the package (see the package docstring),
    so the workers need no importable copy of the package."""
    timed = core.on_watermark is not None
    if timed:
        events = events.withWatermark(ts_col, watermark_delay)
        cols = [*cols, F.col(ts_col)]
    out = events.select(*cols).groupBy("user_id").applyInPandasWithState(
        _keyed_fn(core),
        outputStructType=core.output_schema,
        stateStructType=core.state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if timed
            else GroupStateTimeout.NoTimeout
        ),
    )
    return out.select(*select)


def _first_visit_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """GroupState function: ValueState<first_day> per user."""
    first = state.get[0] if state.exists else None
    for pdf in pdf_iter:
        days = pdf["day"]
        batch_min = days.min()
        if first is None or batch_min < first:
            first = batch_min
            state.update((first,))
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "day": days,
                "is_new": days == first,
            }
        )


ABANDONED_OUTPUT_SCHEMA = "user_id BIGINT, click_ts_ms BIGINT"
ABANDONED_STATE_SCHEMA = "pending ARRAY<BIGINT>, recent_purchases ARRAY<BIGINT>"


def _make_abandoned_fn(timeout_ms: int) -> KeyedCore:
    """Core for T7 timers: per-user ValueState holding the epoch-ms of
    clicks not yet matched by a purchase. A purchase at p matches
    (clears) every pending click c with c ≤ p ≤ c+timeout; when the
    event-time watermark passes c+timeout the click is emitted as
    abandoned (the registered-timer firing). ``st`` is [pending,
    recent purchases]."""

    def load(row):
        return [list(row[0]), list(row[1])] if row else [[], []]

    def expire(st, wm):
        expired = sorted(c for c in st[0] if c + timeout_ms <= wm)
        st[0] = [c for c in st[0] if c + timeout_ms > wm]
        return [(c,) for c in expired]

    def feed(st, rows, wm):
        pdf = rows()
        clicks: list[int] = []
        purchases: list[int] = []
        for et, ts in zip(pdf["event_type"], pdf["ts_ms"]):
            if et == "click":
                clicks.append(int(ts))
            elif et == "purchase":
                purchases.append(int(ts))
        # Two-phase: ingest ALL the batch's clicks into pending
        # BEFORE applying any purchase. Micro-batch rows arrive in
        # no particular order, and replaying them one-by-one (even
        # sorted by event time) is order-sensitive at ts ties — a
        # purchase processed before its same-timestamp click left
        # the click pending forever → false timeout. Two-phase is
        # order-insensitive within the batch and matches the batch
        # anti-join spec exactly (a purchase at p clears every
        # click c with c ≤ p ≤ c+timeout, wherever each sat in
        # the batch). Pinned by tests/test_properties.py::
        # test_abandoned_state_fn_matches_antijoin (hypothesis
        # shuffles arrival order).
        #
        # CROSS-batch ties need state too (hypothesis-found, r5):
        # a purchase in batch N must clear a click arriving in
        # batch N+1 at the same (or, under bounded out-of-order
        # arrival, an earlier) event time — the anti-join spec has
        # no batch boundaries. Purchases stay remembered while
        # p ≥ watermark; older ones can never match a future
        # click (Spark drops rows below the watermark before this
        # operator, so future clicks have c ≥ wm, and a match
        # needs c ≤ p).
        pending = st[0] + clicks
        all_p = st[1] + purchases
        for p in all_p:
            pending = [c for c in pending if not (c <= p <= c + timeout_ms)]
        st[:] = pending, sorted(p for p in set(all_p) if p >= wm)
        return expire(st, wm)

    def on_watermark(st, wm):
        st[1] = [p for p in st[1] if p >= wm]
        return expire(st, wm)

    def save(st, wm):
        pending, recent_p = st
        if not (pending or recent_p):
            return None
        # a purchase-only state fires once its last purchase falls
        # below the watermark, so eviction cannot leak state
        horizon = min(pending) + timeout_ms if pending else max(recent_p) + 1
        return (pending, recent_p), max(horizon, wm + 1)

    return KeyedCore(
        ABANDONED_OUTPUT_SCHEMA, ABANDONED_STATE_SCHEMA, load, feed, save,
        on_watermark, sort_by=None,
    )


def detect_abandoned_stream(
    events: DataFrame, timeout_ms: int = 900_000, watermark: str = "1 minute"
) -> DataFrame:
    """T7 streaming timers: clicks with no purchase by the same user
    within `timeout_ms` — the reference's order-no-pay-within-15-min
    keyed process function + registered timer [R], on GroupState
    event-time timeouts through :func:`keyed_stream` (protobuf-free,
    unlike transformWithStateInPandas timers). Streaming twin of the batch
    ``abandoned_clicks_daily`` anti-join.

    Scale: state is O(unmatched clicks within the timeout horizon)
    per user, partitioned by user_id; the watermark bounds state
    lifetime to timeout + watermark delay.

    Watermark semantics caveat (pinned by tests/test_streaming.py::
    test_abandoned_stream_same_timestamp_purchase_first_in_batch):
    Catalyst pushes the deterministic click/purchase filter BELOW the
    EventTimeWatermark node, so only click/purchase rows advance the
    watermark — other event types are cut before tracking. Timers
    therefore fire on click/purchase event-time progress, not on
    arbitrary traffic; a quiet stream holds its timeouts until the
    next click or purchase arrives (standard event-time behavior —
    use a processing-time fallback if wall-clock firing is needed)."""
    return keyed_stream(
        events.filter(F.col("event_type").isin("click", "purchase")),
        ["user_id", "event_type", F.unix_millis("ts").alias("ts_ms")],
        _make_abandoned_fn(timeout_ms),
        ["user_id", F.timestamp_millis("click_ts_ms").alias("click_ts")],
        watermark_delay=watermark,
    )


def tag_new_vs_returning(events: DataFrame, output_mode: str = "append") -> DataFrame:
    """Tag each event is_new/returning via keyed state (T6). `events`
    is a streaming DataFrame with (user_id, event_id, ts)."""
    prepared = events.select(
        "user_id", "event_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _first_visit_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

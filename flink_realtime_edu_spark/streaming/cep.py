"""Streaming CEP — the live faces of operators/cep.py (Flink
`CEP.pattern(stream, ...)`; SURVEY.md §2 exhaustiveness note).

Five keyed automata, each a GroupState-free core
(streaming/stateful.py::KeyedCore: ``feed`` a call's rows,
``on_watermark`` when the key's timer fires, ``save`` the state to
its row and next deadline) run by the one keyed-state adapter,
:func:`~flink_realtime_edu_spark.streaming.stateful.keyed_stream`,
on Spark's GroupState operator. Each is pinned stream ≡ batch by
tests/test_streaming.py, and replayed without Spark under any
micro-batch split by tests/test_properties.py:

- :func:`cep_first_match_stream` — relaxed-contiguity (followedBy)
  earliest completion: state is (next step index, chain start, last
  matched time); ONE completion row per key, exactly
  ``cep_first_match``. Untimed unless ``done_ttl`` asks for eviction.
- :func:`cep_with_timeouts_stream` — the same chain plus Flink's
  TIMEOUT SIDE OUTPUT: event-time timers (re-armed per invocation,
  ms-granular → deadline = floor(horizon_us/1000)+1 so a timer never
  fires while a non-late completion is still admissible) emit the
  timed-out partial when the watermark passes t1 + within — exactly
  ``cep_timed_out``'s horizon cut.
- :func:`cep_strict_matches_stream` — strict contiguity (next):
  a ring buffer of the last k−1 events carries matches across
  micro-batch boundaries; only the longest buffer suffix that is a
  prefix of the pattern is kept (KMP failure function), so most keys
  hold no state at all. Untimed.
- :func:`cep_not_followed_by_stream` — negative patterns
  (notFollowedBy, r8): per-start greedy partials, gap negatives kill
  in-flight, a trailing negative defers emission until the event-time
  watermark closes the chain's horizon silent; state is the live
  partial list, bounded by one ``within`` horizon of starts plus a
  done marker per emitted key.
- :func:`cep_all_matches_stream` — the skip-till-any-match NFA with
  the full after-match skip enum, iterative conditions, looping
  contiguity, unbounded loops with ``until`` and ``greedy`` (and
  pattern groups via :func:`cep_group_times_stream`). The batch
  operators (operators/cep.py::cep_all_matches / cep_after_match_skip
  / cep_group_times) run the SAME automaton, :func:`_make_am_nfa`,
  over each key's history, so this pair is stream ≡ batch by
  construction; its core keeps the NFA state as one json row and
  sweeps keys whose horizons all closed. State is bounded by one
  horizon's enumeration fanout plus self-pruning strategy memory.

All five require arrival order to respect event-time order per key
ACROSS micro-batches (the testable contract: an ordered replay makes
stream ≡ batch; out-of-order arrivals would need a watermark-deep
reordering buffer, which Flink CEP also requires for event-time
patterns). For the all-matches NFA the contract additionally keeps a
key's SAME-TIMESTAMP events inside one micro-batch: the batch twin
treats them as simultaneous (distinct (key, type, ts) identity,
same-end ties emitted together), which is unobservable if the group
splits across triggers. WITHIN a micro-batch no order is assumed: the
adapter hands each core its key's rows concatenated across Arrow
chunks and sorted once on (ts, tiebreak) — chunk-local sorting would
silently consume events out of order for keys exceeding
arrow.maxRecordsPerBatch rows per batch (pinned by a
small-maxRecordsPerBatch stream≡batch test).

Scale: the chain automata keep four scalars per key, the strict one
≤ k−1 events, the negative one its live partials within one horizon
and the NFA its partial set; matching work is O(batch rows); a key
that already emitted drains its rows without sorting them; outputs
stream in append mode; state is hash-partitioned by key across
executors like every GroupState operator here. Retention: by default
a key that completes (or times out) keeps its 4-scalar done-marker
FOREVER — that is the price of first-match-EVER semantics (evicting
it would let the key match again on later events), ~40 bytes per
completed key; for streams with unbounded key churn,
``cep_first_match_stream``'s ``done_ttl`` evicts state via event-time
timers — done markers once the watermark passes end_ts + ttl (first
match per TTL window), and PARTIAL chains once idle past the ttl AND
past their t1 + within completion horizon (never while an in-horizon
completion is still admissible) — so state really is bounded by one
max(ttl, within) horizon of active keys, partials included, and
callers that want aligned per-window re-matching can bucket the key
by window instead.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_realtime_edu_spark.operators.cep import (
    _normalize_blocks,
    _parse_within_us,
    _split_negatives,
    compile_condition,
    compile_stop,
)
from flink_realtime_edu_spark.streaming.stateful import KeyedCore, keyed_stream

CEP_OUTPUT_SCHEMA = (
    "user_id BIGINT, start_us BIGINT, end_us BIGINT, duration_s DOUBLE"
)
CEP_STATE_SCHEMA = "step_idx INT, t1_us LONG, tprev_us LONG, done BOOLEAN"
CEP_TO_OUTPUT_SCHEMA = (
    "user_id BIGINT, start_us BIGINT, last_us BIGINT, "
    "matched_steps INT, timed_out BOOLEAN"
)


def _cep_cols(key_col, ts_col, type_col, tiebreak_col) -> list[Column]:
    """The projection every CEP core reads."""
    return [
        F.col(key_col).alias("user_id"),
        F.unix_micros(ts_col).alias("ts_us"),
        F.col(type_col).alias("event_type"),
        F.col(tiebreak_col).alias("__tb"),
    ]


def _us_to_ts(*names: str) -> list[Column | str]:
    """Output projection: each ``<x>_us`` epoch-micros column becomes
    the timestamp ``<x>_ts``; other names pass through."""
    return [
        F.timestamp_micros(n).alias(n[:-3] + "_ts") if n.endswith("_us") else n
        for n in names
    ]


def _load_chain(row) -> list:
    """A chain automaton's state row -> [step_idx, t1_us, tprev_us,
    done]; a new key has made no progress."""
    return list(row) if row else [0, None, None, False]


def _make_cep_fn(steps: list[str], within_us: int, ttl_us: int | None = None):
    """Core of :func:`cep_first_match_stream`: the greedy
    earliest-completion chain. Timed only with ``ttl_us``."""

    def expiry_ms(t1_us: int, tprev_us: int, done: bool) -> int:
        """Event-time deadline after which this state is dead weight
        (ttl mode only). Done marker: end + ttl (the documented
        re-match window). PARTIAL chain: idle past the ttl AND past
        its completion horizon t1 + within — before t1 + within an
        in-horizon completion is still admissible, so evicting on
        idleness alone could lose a legitimate match when
        ttl < within (the shape the done-marker test pins)."""
        if done:
            return (tprev_us + ttl_us) // 1000 + 1
        return max(t1_us + within_us, tprev_us + ttl_us) // 1000 + 1

    def feed(st, rows, wm):
        step_idx, t1_us, tprev_us, done = st
        if (
            ttl_us is not None
            and (step_idx or done)
            and expiry_ms(t1_us, tprev_us, done) <= wm
        ):
            # State expired but new data arrived in the same batch
            # (Spark delivers data, not a timeout, then): match from a
            # fresh state. If this batch makes no step-0 progress the
            # stored row is removed — its timer was cleared by this
            # call and none can be re-armed, so it would otherwise sit
            # in the store forever, exactly the key-churn orphan the
            # partial TTL exists to prevent.
            step_idx, t1_us, tprev_us, done = 0, None, None, False
        out = []
        if not done:  # completed keys ignore new events
            pdf = rows()
            for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
                if etype != steps[step_idx]:
                    continue
                if step_idx > 0 and ts_us <= tprev_us:
                    continue
                if step_idx == 0:
                    t1_us = int(ts_us)
                tprev_us = int(ts_us)
                step_idx += 1
                if step_idx == len(steps):
                    done = True
                    if tprev_us - t1_us <= within_us:
                        out.append(
                            (t1_us, tprev_us, round((tprev_us - t1_us) / 1e6, 6))
                        )
                    break
        st[:] = step_idx, t1_us, tprev_us, done
        return out

    def on_watermark(st, wm):
        # ttl mode: the state's deadline passed with no new data —
        # evict (done marker: the key may match again on future
        # events; partial: the chain could no longer complete).
        st[:] = 0, None, None, False
        return []

    def save(st, wm):
        step_idx, t1_us, tprev_us, done = st
        # step_idx == 0 is indistinguishable from no row: keeping
        # zero-progress keys out of the store (with NoTimeout an
        # entry would otherwise live forever) makes state O(keys with
        # progress), not O(keys ever seen).
        if not (step_idx > 0 or done):
            return None
        # State TTL: evict the done marker once the watermark passes
        # end + ttl (trading first-match-EVER for first-match-per-TTL),
        # and a PARTIAL chain once it is both idle past the ttl and
        # past its t1 + within completion horizon — without the
        # partial deadline, keys that start a chain and never finish
        # accumulate forever under key churn (measured:
        # scripts/state_growth.py showed the done-only TTL leaving the
        # state curve ~linear). A deadline at/below the watermark
        # cannot be armed — the row stays, and feed's entry check
        # evicts it lazily on the key's next data.
        deadline = None if ttl_us is None else expiry_ms(t1_us, tprev_us, done)
        return (step_idx, t1_us, tprev_us, done), deadline

    return KeyedCore(
        CEP_OUTPUT_SCHEMA, CEP_STATE_SCHEMA, _load_chain, feed, save,
        None if ttl_us is None else on_watermark,
    )


def cep_first_match_stream(
    events: DataFrame,
    steps: list[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    done_ttl: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming earliest-completion CEP. ``within`` is '<n> hours' /
    '<n> minutes' style; completions emit in append mode as
    (user_id, start_ts, end_ts, duration_s). ``tiebreak_col`` orders
    same-timestamp rows within a batch deterministically (same role as
    event_id in the batch operator's oracle).

    ``done_ttl`` (optional, VERDICT r6 item 5): with the default
    ``None`` a completed key's done marker lives forever —
    first-match-EVER semantics, state O(completed keys) + O(keys with
    partial progress). Set an interval string ('7 days') to EVICT
    state once it is dead weight: the done marker when the event-time
    watermark passes end_ts + ttl (the key may then match again on
    later events — first match per TTL window), and a partial chain
    once it is idle past the ttl AND past its t1 + within completion
    horizon (never earlier, so no in-horizon match is ever lost even
    with ttl < within). State is then bounded by keys ACTIVE within
    one max(ttl, within) horizon — the right setting for unbounded
    key churn. Requires event-time watermarks (``watermark_delay``
    maps to withWatermark)."""
    ttl_us = None if done_ttl is None else _parse_within_us(done_ttl)
    return keyed_stream(
        events,
        _cep_cols(key_col, ts_col, type_col, tiebreak_col),
        _make_cep_fn(steps, _parse_within_us(within), ttl_us),
        _us_to_ts("user_id", "start_us", "end_us", "duration_s"),
        ts_col,
        watermark_delay,
    )


def _make_cep_to_fn(steps: list[str], within_us: int):
    """Core of the timeout-emitting variant. Matching differs from
    the plain automaton in ONE rule: a candidate beyond the chain's
    horizon (ts > t1 + within) can no longer extend it — the batch
    operator's prefix-cut — so stalled chains sit in state until the
    WATERMARK passes the horizon and the timer fires the timed-out
    partial (Flink's PatternTimeoutFunction emission discipline).
    Completions emit inline as before; every call on a live started
    chain re-arms the event-time timer."""
    k = len(steps)

    def horizon_ms(t1_us: int) -> int:
        # Timers are ms-granular while the horizon is µs: the timer
        # must land STRICTLY beyond the true horizon, else a
        # floor-truncated value lets the watermark reach it while a
        # non-late completing event at ts <= horizon can still arrive
        # (wm_ms >= timer ⇒ wm_us > horizon_us only with the +1).
        return (t1_us + within_us) // 1000 + 1

    def feed(st, rows, wm):
        step_idx, t1_us, tprev_us, done = st
        out = []
        if not done:  # completed keys ignore new events
            pdf = rows()
            for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
                if etype != steps[step_idx]:
                    continue
                if step_idx > 0 and (
                    ts_us <= tprev_us or ts_us - t1_us > within_us
                ):
                    continue  # beyond-horizon events cannot extend
                if step_idx == 0:
                    t1_us = int(ts_us)
                tprev_us = int(ts_us)
                step_idx += 1
                if step_idx == k:
                    done = True
                    out.append((t1_us, tprev_us, k, False))
                    break
        if step_idx > 0 and not done and horizon_ms(t1_us) <= wm:
            # The watermark already passed this chain's horizon (its
            # key kept receiving events, so the timer never got to
            # fire): the partial is final — emit it inline; re-arming
            # below the watermark would throw.
            out.append((t1_us, tprev_us, step_idx, True))
            done = True
        st[:] = step_idx, t1_us, tprev_us, done
        return out

    def on_watermark(st, wm):
        # watermark passed t1 + within with the chain incomplete
        st[3] = True
        return [(st[1], st[2], st[0], True)]

    def save(st, wm):
        step_idx, t1_us, tprev_us, done = st
        if not (step_idx > 0 or done):
            return None
        return tuple(st), None if done else horizon_ms(t1_us)

    return KeyedCore(
        CEP_TO_OUTPUT_SCHEMA, CEP_STATE_SCHEMA, _load_chain, feed, save,
        on_watermark,
    )


def cep_with_timeouts_stream(
    events: DataFrame,
    steps: list[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming CEP with Flink's timeout SIDE OUTPUT: one stream
    carrying both completions (timed_out = false, matched_steps = k)
    and timed-out partials (timed_out = true, matched_steps < k,
    last_ts = last matched event) — the partials emit when the
    EVENT-TIME WATERMARK passes each chain's t1 + within, exactly the
    horizon cut of the batch operators (operators/cep.py
    cep_first_match / cep_timed_out), which the stream-equals-batch
    test pins. Requires in-order arrival per key like the plain
    automaton; ``watermark_delay`` maps to withWatermark."""
    return keyed_stream(
        events,
        _cep_cols(key_col, ts_col, type_col, tiebreak_col),
        _make_cep_to_fn(steps, _parse_within_us(within)),
        _us_to_ts("user_id", "start_us", "last_us", "matched_steps", "timed_out"),
        ts_col,
        watermark_delay,
    )


# STATE-SCHEMA BREAK (r9, ADVICE r10 note): cur_ts/cur_dead were
# dropped from this schema in r9 (dead code — a kill provably
# requires t1 < ts), which INVALIDATES streaming checkpoints taken by
# cep_no_followed_by_stream queries on r8 trees: state rows no longer
# deserialize on restart. Running queries need fresh checkpoint
# directories after upgrading across r8 -> r9.
CEP_NFB_STATE_SCHEMA = (
    "done BOOLEAN, p_t1 ARRAY<LONG>, p_stage ARRAY<INT>, "
    "p_tprev ARRAY<LONG>, end_us LONG"
)


def _make_cep_nfb_fn(
    pos: list[str],
    neg: list[tuple[int, str]],
    within_us: int,
    ttl_us: int | None = None,
):
    """Core of streaming notFollowedBy — the live face of the r8
    batch semantics (operators/cep.py::cep_not_followed_by): one
    greedy partial per occurrence of the first positive type, a
    negative kills only the partial whose gap it lands in, and the
    key emits its FIRST valid chain in completion order. A trailing
    negative defers emission until the chain's t1 + within horizon
    closes silent — the event-time timer fires it exactly like the
    batch horizon cut; gap-only patterns emit at the completing event.

    Per-key state is the live partial list [(t1, stage, tprev)], with
    stage == k marking a completed chain pending its silent horizon.
    Partials are bounded by one `within` horizon of starts (dead ones
    are pruned on every event/timer), so state is O(starts within one
    horizon) + one done marker per emitted key (first-match-ever, the
    same documented trade-off as cep_first_match_stream's default).

    Same-timestamp discipline (mirrors the batch open intervals): for
    each distinct timestamp the POSITIVE phase runs first (spawns +
    advances), then the NEGATIVE phase kills with strict comparisons
    — so a negative sharing its timestamp with the positive that
    closes the gap never kills (the batch interval (t_g, t_{g+1}) is
    open), and a partial that just advanced is immune (ts > tprev is
    false). A same-timestamp kill of a same-timestamp-started partial
    is impossible for the same reason (a kill needs ts > tprev and
    tprev >= t1, so t1 < ts always), and duplicate seed events are
    already absorbed by the parts-list membership check — no
    per-timestamp kill memory is needed (ADVICE r9).

    ``ttl_us`` (optional): evict the done marker once the watermark
    passes emitted_end + ttl — first match per TTL window instead of
    first-match-ever, the same contract (and the same eager lazy-
    eviction discipline: an expired marker detected on the data path
    is dropped before fresh matching, so a no-progress batch strands
    nothing) as cep_first_match_stream's done_ttl."""
    k = len(pos)
    has_tail = any(g == k for g, _ in neg)
    neg_by_type: dict[str, list[int]] = {}
    for g, t in neg:
        neg_by_type.setdefault(t, []).append(g)

    def hz_us(t1: int) -> int:
        return t1 + within_us

    def hz_ms(t1: int) -> int:
        # strictly beyond the µs horizon (same +1 as the other timers)
        return hz_us(t1) // 1000 + 1

    def marker_ms(st) -> int:
        return (st["end"] + ttl_us) // 1000 + 1

    def load(row):
        if row is None:
            return {"done": False, "parts": [], "end": None}
        done, p_t1, p_stage, p_tprev, end_us = row
        parts = [[int(a), int(b), int(c)] for a, b, c in zip(p_t1, p_stage, p_tprev)]
        return {"done": done, "parts": parts, "end": end_us}

    def emit(st, out, t1: int, tk: int) -> None:
        out.append((t1, tk, round((tk - t1) / 1e6, 6)))
        st.update(done=True, parts=[], end=tk)

    def settle(st, out, closed) -> None:
        """Resolve the partials whose horizon ``closed``: the earliest
        completed one emits (the key is done), the others are dead."""
        live = []
        for t1, stg, tp in st["parts"]:  # t1-ascending == completion order
            if not closed(t1):
                live.append([t1, stg, tp])
            elif stg == k:
                emit(st, out, t1, tp)
                return
        st["parts"] = live

    def feed(st, rows, wm):
        out: list[tuple] = []
        if st["done"] and ttl_us is not None and marker_ms(st) <= wm:
            # expired done marker met by DATA (data preempts the
            # timer): drop it — the no-progress-batch orphan lesson
            # from _make_cep_fn — and match fresh
            st.update(done=False, parts=[], end=None)
        if st["done"]:  # emitted keys ignore new events
            return out
        pdf = rows()
        evs = list(zip(pdf["ts_us"], pdf["event_type"]))
        i = 0
        while i < len(evs):
            ts = int(evs[i][0])
            group: list[str] = []
            while i < len(evs) and int(evs[i][0]) == ts:
                group.append(str(evs[i][1]))
                i += 1
            # chains whose horizon closed strictly before this event
            # resolve NOW (data preempts the timer); dead partials
            # fall out in the same pass
            settle(st, out, lambda t1: hz_us(t1) < ts)
            if st["done"]:
                return out
            parts = st["parts"]
            # POSITIVE phase: advance every awaiting partial, then
            # seed (a same-ts seed can't advance: strict >)
            completed_now = False
            for etype in group:
                for p in parts:
                    t1, stg, tp = p
                    if (
                        stg < k
                        and etype == pos[stg]
                        and ts > tp
                        and ts <= hz_us(t1)
                    ):
                        p[1], p[2] = stg + 1, ts
                        if p[1] == k and not has_tail:
                            completed_now = True
                if etype == pos[0]:
                    if not any(p[0] == ts for p in parts):
                        parts.append([ts, 1, ts])
                        if k == 1 and not has_tail:
                            completed_now = True
            if completed_now:
                # first completion in event-time order; earliest
                # start breaks the tie (batch: min (t_k, t1))
                t1, _, tp = min(p for p in parts if p[1] == k)
                emit(st, out, t1, tp)
                return out
            # NEGATIVE phase: strict comparisons — see docstring
            for etype in group:
                gaps = neg_by_type.get(etype)
                if not gaps:
                    continue
                parts = [
                    [t1, stg, tp]
                    for t1, stg, tp in parts
                    if not any(
                        stg == g
                        and ts > tp
                        and (g < k or ts <= hz_us(t1))
                        for g in gaps
                    )
                ]
            st["parts"] = parts
        # late settle: the watermark may already have passed a
        # pending's horizon (timers can't be armed at/below it)
        settle(st, out, lambda t1: hz_ms(t1) <= wm)
        return out

    def on_watermark(st, wm):
        out: list[tuple] = []
        if st["done"]:
            # only armed in ttl mode: the marker's ttl expired
            st.update(done=False, parts=[], end=None)
        else:
            settle(st, out, lambda t1: hz_ms(t1) <= wm)
        return out

    def save(st, wm):
        if st["done"]:
            row = (True, [], [], [], st["end"])
            if ttl_us is None:
                return row, None
            # an already-expired marker is not written at all
            return (row, marker_ms(st)) if marker_ms(st) > wm else None
        parts = st["parts"]
        if not parts:
            return None
        row = (False, [p[0] for p in parts], [p[1] for p in parts],
               [p[2] for p in parts], None)
        return row, min(hz_ms(p[0]) for p in parts)

    return KeyedCore(
        CEP_OUTPUT_SCHEMA, CEP_NFB_STATE_SCHEMA, load, feed, save, on_watermark
    )


def cep_not_followed_by_stream(
    events: DataFrame,
    steps: list[str | tuple[str, str]],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    done_ttl: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming Flink ``notFollowedBy`` — the live twin of
    operators/cep.py::cep_not_followed_by (r8 per-start semantics).
    ``steps`` mixes positive type names with ``("not", type)`` markers
    exactly like the batch operator; emits one append-mode row per key
    (user_id, start_ts, end_ts, duration_s), deferred past the
    t1 + within horizon when the pattern carries a trailing negative
    (the match emits only once the event-time watermark closes the
    window silent — Flink's deferred-emission shape). In-order arrival
    per key is the contract, as for the other CEP automata; the
    stream ≡ batch test pins completions AND horizon-closed
    emissions. ``done_ttl`` (optional) evicts the done marker once
    the watermark passes the emitted chain's end + ttl — first match
    per TTL window, same contract as cep_first_match_stream's."""
    pos, neg = _split_negatives(steps)
    ttl_us = None if done_ttl is None else _parse_within_us(done_ttl)
    return keyed_stream(
        events,
        _cep_cols(key_col, ts_col, type_col, tiebreak_col),
        _make_cep_nfb_fn(pos, neg, _parse_within_us(within), ttl_us),
        _us_to_ts("user_id", "start_us", "end_us", "duration_s"),
        ts_col,
        watermark_delay,
    )


CEP_AM_OUTPUT_SCHEMA = (
    "user_id BIGINT, start_us BIGINT, end_us BIGINT, "
    "n_events INT, chain_str STRING"
)
CEP_AM_STATE_SCHEMA = "js STRING"  # json-encoded NFA state, see _make_am_nfa

_AM_STRATEGIES = (
    "no_skip",
    "skip_to_next",
    "skip_past_last_event",
    "skip_to_first",
    "skip_to_last",
)


def _all_matches_spec(
    steps: list[str | tuple[str, int, int | None]],
    strategy: str = "no_skip",
    skip_block: int | None = None,
    conditions: dict | None = None,
    consecutive: set[int] | None = None,
    until: dict[int, str] | None = None,
    greedy: set[int] | None = None,
    type_col: str = "event_type",
) -> dict:
    """Validate an all-matches pattern — the one parameter contract of
    the batch operators and the stream — and compile its condition and
    stop strings through the shared restricted grammar, so one spec
    string drives both engines (callable conditions pass through).
    Returns the pattern keywords of :func:`_make_am_nfa`."""
    blocks = _normalize_blocks(steps)
    if strategy not in _AM_STRATEGIES:
        raise ValueError(f"strategy must be one of {_AM_STRATEGIES}")
    if strategy in ("skip_to_first", "skip_to_last"):
        if skip_block is None or not 1 <= skip_block <= len(blocks):
            raise ValueError(
                "skip_to_first/skip_to_last need skip_block in "
                f"[1, {len(blocks)}], got {skip_block!r}"
            )
    elif skip_block is not None:
        raise ValueError(f"{strategy} does not take skip_block")
    for what, idx in (("condition", conditions), ("consecutive", consecutive)):
        bad = [b for b in idx or () if not 1 <= b <= len(blocks)]
        if bad:
            raise ValueError(
                f"{what} block indices {bad} outside [1, {len(blocks)}]"
            )
    unbounded = {i for i, (_, _, mx) in enumerate(blocks, 1) if mx is None}
    if unbounded and strategy != "no_skip":
        raise ValueError(
            "unbounded looping blocks (oneOrMore/timesOrMore) are "
            "supported through cep_all_matches (the no_skip strategy) "
            "only; pass a finite times(m, n) here"
        )
    if until:
        bad = [b for b in until if b not in unbounded]
        if bad:
            raise ValueError(
                f"until applies only to unbounded looping blocks "
                f"(oneOrMore/timesOrMore); {bad} are bounded"
            )
    if conditions and unbounded & set(conditions):
        raise ValueError(
            f"iterative conditions are not supported on unbounded blocks "
            f"{sorted(unbounded & set(conditions))}; use until to stop a "
            f"loop on data"
        )
    if greedy:
        bad = [g for g in greedy if g not in unbounded]
        if bad:
            raise ValueError(
                f"greedy applies only to unbounded looping blocks; "
                f"{bad} are bounded"
            )
        if len(blocks) in greedy:
            raise ValueError(
                "a greedy block must not be the pattern's last element "
                "(Flink parity)"
            )
        if consecutive and greedy & consecutive:
            raise ValueError(
                f"greedy + consecutive on one block is not supported: "
                f"{sorted(greedy & consecutive)}"
            )
    until = until or {}
    return {
        "blocks": blocks,
        "strategy": strategy,
        "skip_block": skip_block,
        "conditions": {
            b: compile_condition(c) if isinstance(c, str) else c
            for b, c in (conditions or {}).items()
        },
        "consecutive": set(consecutive or ()),
        "until": {b: compile_stop(s, type_col) for b, s in until.items()},
        "greedy": set(greedy or ()),
        # a stop string that reads the value switches on the valued
        # event identity even without conditions
        "valued": bool(conditions)
        or any(re.search(r"\b__v\b", s) for s in until.values()),
    }


def _am_state_load(js: str) -> dict:
    """One json state row -> the :func:`_make_am_nfa` state dict. The
    row keys each partial as "b|taken|c1,c2,.."; in memory the key is
    the tuple (chain, b, taken), so the NFA never parses strings."""
    st = json.loads(js)
    parts = {}
    for s, val in st["p"].items():
        b, taken, cs = s.split("|")
        parts[(tuple(int(x) for x in cs.split(",")), int(b), int(taken))] = val
    st["p"] = parts
    return st


def _am_state_dump(st: dict) -> str:
    """The inverse of :func:`_am_state_load`."""
    parts = {
        f"{b}|{taken}|{','.join(map(str, chain))}": val
        for (chain, b, taken), val in st["p"].items()
    }
    return json.dumps({**st, "p": parts})


def _make_am_nfa(
    blocks: list[tuple[str, int, int | None]],
    within_us: int,
    strategy: str = "no_skip",
    skip_block: int | None = None,
    cap: int | None = None,
    conditions: dict | None = None,
    consecutive: set[int] | None = None,
    until: dict | None = None,
    greedy: set[int] | None = None,
    valued: bool = False,
    complete_at: set[int] | None = None,
):
    """The skip-till-any-match NFA of the all-matches family with the
    full after-match skip enum — the one automaton behind both
    engines, free of GroupState. Returns two functions over a key's
    state dict ``st`` (``{}`` for a fresh key; stored as one json row
    through :func:`_am_state_dump` / :func:`_am_state_load`):

    - ``feed(st, pdf)`` advances ``st`` over the key's rows (columns
      ``ts_us``, ``event_type`` and, valued, ``__v``; sorted by
      ``ts_us``, see :func:`_sorted_rows`) and returns the chains kept
      in emission order, each a tuple of epoch-micros;
    - ``prune(st, ts)`` drops the partials and strategy memory that
      nothing arriving at >= ts can extend or collide with (the
      streaming core calls it when the key's timer fires).

    The streaming core (:func:`_make_cep_am_fn`) feeds each
    micro-batch and keeps ``st`` in the state store between them; the
    batch operators (operators/cep.py) feed each key's whole history
    once, into a fresh dict. Any split of a key's rows that keeps each
    same-timestamp group in one call yields the same kept chains as
    one call (pinned by a Hypothesis property).

    The state is the literal NFA partial set: each partial is (chain,
    block, taken[, anchor]) and an event FORKS extensions (the no-take
    branch is the surviving original). Identical chains reachable
    under several block assignments collapse in the partial dict
    (anchor = min over assignments), and a chain's completions all
    happen at its last TIMESTAMP — events are processed in
    same-timestamp GROUPS (distinct types per ts: events are distinct
    (key, type, ts) triples), completions dedup by chain across the
    whole group, and strategy memory judges a group's candidates as
    one same-end batch (one-at-a-time processing double-emitted chains
    completable through two same-ts events and let the first
    completion's memory suppress same-end ties). Skip strategies are
    ONLINE by construction — Flink defines them in completion order,
    which is arrival order here: skip_to_next remembers emitted
    starts, skip_past_last_event a resume point, skip_to_first /
    skip_to_last the discard-interval list; each memory self-prunes
    once the event time passes its relevance (a future start can never
    land inside an interval whose end precedes it).

    State is bounded by the enumeration fanout inside ONE ``within``
    horizon per key — the same documented explosion as Flink's
    skip-till-any-match NFA — plus the self-pruning strategy memory.
    ``cap`` stops emission once the key's state counted that many
    matches (emission order; the batch operators pass None and cap
    chain-lexicographically afterwards).

    ``conditions`` (1-based block index -> ``(v, vsum, vcnt, vmin,
    vmax) -> bool``) are ITERATIVE CONDITIONS: each partial carries
    the chain's running value aggregates, a candidate consumption
    checks its block's predicate against them (the seed is never
    conditioned), and a same-ts group resolves duplicate (type, ts)
    values MIN-first.

    ``consecutive`` (1-based block indices) is looping contiguity: the
    state carries a per-key arrival SEQUENCE counter over distinct
    (type, ts) events (same-ts group members numbered in type order),
    each partial remembers its last consumed sequence number, and a
    consecutive block's 2nd..nth consumption requires seq = last + 1.
    The counter lives only while the key's row does; an era restart
    after full quiescence is sound because adjacency is a DIFFERENCE
    and no live chain can span a fully-drained gap.

    ``until`` (1-based unbounded block index -> ``(v, event_type) ->
    bool``) / ``greedy`` / unbounded blocks (``mx = None``): an
    unbounded block's run contiguity rides per-(key, TYPE) candidate
    sequences (``st["tq"]`` — same era-restart argument as the
    all-events counter); stop timestamps accumulate per until block
    (``st["stops"]``, pruned once older than one horizon: any partial
    that could still need one would contradict its own within window)
    and a consumption in block >= i from a partial whose last event
    sits in block <= i is rejected when a stop falls STRICTLY between
    (a stop at a consumed event's own timestamp does not kill); a
    greedy partial picks up an exit DEADLINE (``dl`` in its extras)
    the moment a consumable run candidate passes unconsumed (within
    the chain's horizon), after which it may exit at-or-before the
    deadline and is pruned once the clock passes it. The NFA loops as
    long as the data does — no slot bound. Extras are positional:
    [anchor][vsum vcnt vmin vmax][lastr][lasttq][dl].

    ``complete_at`` (0-based block indices; pattern GROUPS in the
    stream) restricts emission to those repetition-boundary blocks —
    all-or-nothing per repetition; the partial still survives to
    consume the next repetition.

    STATE-SCHEMA NOTE: the json keys are p, R, starts, ivls, n, q, tq
    and stops, with partials keyed "b|taken|c1,c2,.."; keys a
    checkpoint lacks are set to their defaults, and extras lists only
    lengthen for patterns that opt into the features that need
    them."""
    k_blocks = len(blocks)
    types = [b[0] for b in blocks]
    mns = [b[1] for b in blocks]
    mxs = [b[2] for b in blocks]
    conditions = conditions or {}
    ranked = bool(consecutive)
    consecutive = consecutive or set()
    until = until or {}
    greedy = greedy or set()
    # unbounded blocks under default (relaxed) loop contiguity carry a
    # per-(key, type) candidate sequence; consecutive pins the
    # stricter all-events sequence instead
    tranked = any(
        mx is None and (i + 1) not in consecutive
        for i, mx in enumerate(mxs)
    )
    has_greedy = bool(greedy)
    composite = valued or ranked or tranked or has_greedy
    # positional extras layout: [anchor][vsum vcnt vmin vmax][lastr]
    # [lasttq][dl]
    _LASTR_AT = 1 + 4 * valued
    _LASTTQ_AT = _LASTR_AT + (1 if ranked else 0)
    _DL_AT = _LASTTQ_AT + (1 if tranked else 0)
    anchored = strategy in ("skip_to_first", "skip_to_last")
    tail_optional = [False] * k_blocks  # blocks after i all optional?
    opt = True
    for i in range(k_blocks - 1, -1, -1):
        tail_optional[i] = opt
        opt = opt and mns[i] == 0

    def init(st: dict) -> None:
        # partials dict "p": key (chain, b, taken) -> anchor (or
        # None); composite modes store a LIST instead — [anchor(, vsum,
        # vcnt, vmin, vmax)(, lastr)...] — and only the anchor ever
        # needs merging: a chain's value aggregates and last-event
        # sequence are functions of its event set, identical across
        # duplicate block assignments.
        for k, v in (
            ("p", {}), ("R", None), ("starts", []), ("ivls", []),
            ("n", 0),
            ("q", 0),  # arrival-sequence counter (ranked mode)
            ("tq", {}),  # per-type candidate sequences (unbounded)
            ("stops", {}),  # per-until-block stop timestamps
        ):
            st.setdefault(k, v)

    def val_anchor(val):
        return val[0] if composite else val

    def min_anchor(old, anchor):
        return anchor if old is None else old if anchor is None else min(old, anchor)

    def merge_anchor(val, anchor):
        m = min_anchor(val_anchor(val), anchor)
        return [m, *val[1:]] if composite else m

    def prune(st: dict, ts: int) -> None:
        """Drop dead partials and stale strategy memory: nothing
        arriving at >= ts can extend/collide with them."""
        init(st)
        parts = st["p"]
        dead = [s for s in parts if s[0][0] + within_us < ts]
        if has_greedy:
            # a greedy partial whose exit deadline passed can neither
            # extend (its run's next candidate took the sequence slot)
            # nor proceed (exits must be <= dl)
            dead += [
                s
                for s, val in parts.items()
                if s not in dead
                and val[_DL_AT] is not None
                and val[_DL_AT] < ts
            ]
        for s in dead:
            del parts[s]
        for i in list(st["stops"]):
            # a stop matters only while some live partial's last event
            # precedes it; any such partial's horizon covers it, so
            # stops older than one horizon are dead weight
            st["stops"][i] = [u for u in st["stops"][i] if u + within_us >= ts]
        st["starts"] = [x for x in st["starts"] if x >= ts]
        st["ivls"] = [iv for iv in st["ivls"] if iv[1] > ts]
        if st["R"] is not None and st["R"] < ts:
            st["R"] = None

    def feed(st: dict, pdf: pd.DataFrame) -> list[tuple[int, ...]]:
        init(st)
        parts = st["p"]
        kept: list[tuple[int, ...]] = []

        def emit(chain):
            kept.append(chain)
            st["n"] += 1

        # SAME-TIMESTAMP grouping: fork + completion collection run
        # once per distinct timestamp, chains dedup across the whole
        # group, and the strategy judges the group's candidates
        # against the memory in force when the group OPENED (same-end
        # ties emit together before their strategy memory applies).
        # Extensions only ever come from pre-group partials (chains
        # are strictly increasing, so a same-ts event can never
        # extend a chain the group created).
        if valued:
            rows = list(zip(pdf["ts_us"], pdf["event_type"], pdf["__v"]))
        else:
            rows = list(zip(pdf["ts_us"], pdf["event_type"]))
        i = 0
        while i < len(rows):
            ts = int(rows[i][0])
            # distinct types at this ts; valued mode resolves duplicate
            # (type, ts) pairs MIN-first
            group: dict[str, float | None] = {}
            while i < len(rows) and int(rows[i][0]) == ts:
                et = str(rows[i][1])
                v = float(rows[i][2]) if valued else None
                if et not in group or (valued and v < group[et]):
                    group[et] = v
                i += 1
            if cap is not None and st["n"] >= cap:
                break
            prune(st, ts)
            if ranked:
                # arrival sequence numbers for this ts-group, assigned
                # in TYPE order (the (ts, type) event order)
                seqs = {
                    et: st["q"] + 1 + j for j, et in enumerate(sorted(group))
                }
                st["q"] += len(group)
            if tranked:
                # per-TYPE candidate sequences (every distinct (type,
                # ts) event of a type increments that type's counter)
                tseqs = {et: st["tq"].get(et, 0) + 1 for et in group}
                for et in group:
                    st["tq"][et] = tseqs[et]
            for ui, ufn in until.items():
                # record stop timestamps BEFORE forking: gap checks
                # compare strictly, so a same-group stop never kills a
                # consumption at its own timestamp (the declared tie
                # rule), while later groups see it
                if any(ufn(v, et) for et, v in group.items()):
                    st["stops"].setdefault(str(ui), []).append(ts)
            # FORK extensions of every live partial (the original
            # survives — skip-till-any-match), plus the seed.
            fresh: dict = {}

            def fork(chain, b, taken, anchor, extras=()):
                kk = (chain, b, taken)
                if kk in parts:
                    parts[kk] = merge_anchor(parts[kk], anchor)
                elif kk in fresh:
                    fresh[kk] = merge_anchor(fresh[kk], anchor)
                else:
                    fresh[kk] = [anchor, *extras] if composite else anchor

            for etype, v in group.items():
                seq = seqs[etype] if ranked else None
                for (chain, b, taken), pval in list(parts.items()):
                    if ts <= chain[-1] or ts > chain[0] + within_us:
                        continue
                    panchor = val_anchor(pval)
                    aggs = pval[1:5] if valued else None
                    lastr = pval[_LASTR_AT] if ranked else None
                    lasttq = pval[_LASTTQ_AT] if tranked else None
                    dl = pval[_DL_AT] if has_greedy else None
                    # epsilon closure: this partial may also stand at
                    # the start of any later block once its own
                    # minimum is met
                    bb, tt = b, taken
                    positions = [(bb, tt)]
                    while tt >= mns[bb] and bb + 1 < k_blocks:
                        bb, tt = bb + 1, 0
                        positions.append((bb, tt))
                    for pb, pt in positions:
                        if etype != types[pb] or (
                            mxs[pb] is not None and pt >= mxs[pb]
                        ):
                            continue
                        chk = conditions.get(pb + 1)
                        if valued and chk and not chk(v, *aggs):
                            continue  # iterative condition failed
                        if (
                            ranked
                            and pt >= 1
                            and (pb + 1) in consecutive
                            and seq != lastr + 1
                        ):
                            continue  # looping contiguity broken
                        if (
                            mxs[pb] is None
                            and pt >= 1
                            and (pb + 1) not in consecutive
                            and tseqs[etype] != lasttq + 1
                        ):
                            continue  # loop run contiguity broken
                        ufn = until.get(pb + 1)
                        if ufn is not None and ufn(v, etype):
                            continue  # the loop never takes a stop
                        if has_greedy and dl is not None and ts > dl:
                            # greedy: an unconsumed run candidate
                            # forced the exit deadline
                            continue
                        if any(
                            pb + 1 >= ui
                            and b + 1 <= ui
                            and any(
                                chain[-1] < u < ts
                                for u in st["stops"].get(str(ui), ())
                            )
                            for ui in until
                        ):
                            continue  # stop strictly inside a gap
                        a = panchor
                        if anchored and pb + 1 == skip_block:
                            # "last": every consumed event re-anchors;
                            # "first": only the block's first consumed
                            # event sets it
                            a = (
                                ts
                                if strategy == "skip_to_last"
                                or panchor is None
                                else panchor
                            )
                        extras = []
                        if valued:
                            extras += [
                                aggs[0] + v,
                                aggs[1] + 1,
                                min(aggs[2], v),
                                max(aggs[3], v),
                            ]
                        if ranked:
                            extras.append(seq)
                        if tranked:
                            extras.append(
                                tseqs[etype]
                                if (
                                    mxs[pb] is None
                                    and (pb + 1) not in consecutive
                                )
                                else None
                            )
                        if has_greedy:
                            extras.append(None)  # dl: run alive
                        fork((*chain, ts), pb, pt + 1, a, extras)
                if etype == types[0] and not (
                    1 in until and until[1](v, etype)
                ):
                    a = ts if anchored and skip_block == 1 else None
                    # the seed is never conditioned (no prior chain)
                    extras = []
                    if valued:
                        extras += [v, 1, v, v]
                    if ranked:
                        extras.append(seq)
                    if tranked:
                        extras.append(
                            tseqs[etype]
                            if (mxs[0] is None and 1 not in consecutive)
                            else None
                        )
                    if has_greedy:
                        extras.append(None)
                    fork((ts,), 0, 1, a, extras)
            # completions among the NEW forks: minimum met and every
            # later block optional (or, with complete_at, a listed
            # repetition boundary) — dedup identical chains across the
            # WHOLE group (min anchor), order chain-lexicographically
            # (same-end batch ties rank by chain)
            comps: dict[tuple, int | None] = {}
            for s, val in fresh.items():
                chain, b, taken = s
                if taken >= mns[b] and (
                    b in complete_at
                    if complete_at is not None
                    else tail_optional[b]
                ):
                    c = tuple(chain)
                    anchor = val_anchor(val)
                    comps[c] = (
                        min_anchor(comps[c], anchor) if c in comps else anchor
                    )
                parts[s] = val
            if has_greedy:
                # an unconsumed run candidate ends every live run it
                # immediately follows: the partial's future exits must
                # happen at-or-before the candidate; candidates beyond
                # the chain's horizon are exempt (the run could not
                # have extended anyway). Fresh forks that consumed the
                # candidate carry its sequence, so lasttq == tseq - 1
                # never flags them.
                for g in sorted(greedy):
                    gt = types[g - 1]
                    if gt not in group:
                        continue
                    for (chain, b, taken), val in parts.items():
                        if (
                            b + 1 == g
                            and taken >= 1
                            and val[_DL_AT] is None
                            and val[_LASTTQ_AT] == tseqs[gt] - 1
                            and ts <= chain[0] + within_us
                        ):
                            val[_DL_AT] = ts
            if not comps:
                continue
            cands = sorted(comps)  # chain-lex among same-end ties
            if strategy == "no_skip":
                for c in cands:
                    emit(c)
            elif strategy == "skip_to_next":
                for c in cands:
                    if c[0] in st["starts"]:
                        continue
                    emit(c)
                    st["starts"].append(c[0])
                # discard partials sharing an emitted start
                for s in [s for s in parts if s[0][0] in st["starts"]]:
                    del parts[s]
            elif strategy == "skip_past_last_event":
                batch = [c for c in cands if st["R"] is None or c[0] > st["R"]]
                for c in batch:
                    emit(c)
                if batch:
                    st["R"] = ts
                    for s in [s for s in parts if s[0][0] <= ts]:
                        del parts[s]
            else:  # skip_to_first / skip_to_last
                batch = [
                    c
                    for c in cands
                    if not any(lo <= c[0] < hi for lo, hi in st["ivls"])
                ]
                for c in batch:
                    emit(c)
                    a = comps[c]
                    if a is not None and a > c[0]:
                        st["ivls"].append([c[0], a])
                for s in [
                    s
                    for s in parts
                    if any(
                        lo <= s[0][0] < hi for lo, hi in st["ivls"]
                    )
                ]:
                    del parts[s]
        return kept

    return feed, prune


def _make_cep_am_fn(feed, prune, within_us: int, cap: int | None):
    """Core of streaming all-matches CEP around the
    :func:`_make_am_nfa` functions ``feed`` / ``prune``: the NFA state
    as one json row, and an event-time timer that sweeps keys whose
    horizons all closed. With a ``cap``, a key that emitted anything
    keeps a compact counter row after quiescence (no timer) so the cap
    stays per-key TOTAL like the batch operator's, not
    per-activity-burst. ``st`` is [NFA state, swept by a timer]."""

    def load(row):
        return [_am_state_load(row[0]) if row else {}, False]

    def feed_(s, rows, wm):
        return [
            (c[0], c[-1], len(c), "|".join(map(str, c)))
            for c in feed(s[0], rows())
        ]

    def on_watermark(s, wm):
        prune(s[0], wm * 1000 + 1)
        s[1] = True
        return []

    def save(s, wm):
        st, swept = s
        if st["p"] or st["starts"] or st["ivls"] or st["R"] is not None:
            if st["p"] and not swept:
                last_start = max(p[0][0] for p in st["p"])
                return (_am_state_dump(st),), (last_start + within_us) // 1000 + 1
            # swept, or only strategy memory left: re-sweep at the
            # next watermark advance
            return (_am_state_dump(st),), wm + 1
        if cap is not None and st["n"] > 0:
            # the per-key TOTAL cap survives quiescence: a compact
            # counter row, no timer (nothing left to prune)
            return (_am_state_dump(st),), None
        return None

    return KeyedCore(
        CEP_AM_OUTPUT_SCHEMA, CEP_AM_STATE_SCHEMA, load, feed_, save, on_watermark
    )


def cep_all_matches_stream(
    events: DataFrame,
    steps: list[str | tuple[str, int, int]],
    within: str,
    strategy: str = "no_skip",
    skip_block: int | None = None,
    max_matches_per_key: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
    conditions: dict | None = None,
    value_col: str = "value",
    consecutive: set[int] | None = None,
    until: dict[int, str] | None = None,
    greedy: set[int] | None = None,
    _complete_at: set[int] | None = None,
) -> DataFrame:
    """Streaming ALL-matches CEP enumeration with the full after-match
    skip-strategy enum — the live twin of
    operators/cep.py::cep_all_matches / cep_after_match_skip, running
    the same NFA core (:func:`_make_am_nfa`) per micro-batch with its
    state in the state store. Same ``steps`` block syntax, anchored
    ``skip_block``, ``conditions`` / ``consecutive`` / ``until`` /
    ``greedy`` spec (condition and stop SQL strings compile through the
    shared restricted grammar; a ``(v, vsum, vcnt, vmin, vmax) ->
    bool`` callable is accepted as a condition too). Emits one
    append-mode row per kept match: (user_id, start_ts, end_ts,
    n_events, chain_str). The batch operator's ``match_no`` is the
    chain-lexicographic rank among kept matches, which is not
    computable online — streaming emits in COMPLETION order (Flink's
    actual emission) and carries no rank; the stream ≡ batch test
    compares the kept-match SETS. ``max_matches_per_key`` caps in
    emission order (Flink's runtime behavior; batch's cap is
    chain-lex — pass None to compare against an uncapped batch run).
    In-order arrival per key is the contract, as for the other
    automata."""
    spec = _all_matches_spec(
        steps, strategy, skip_block, conditions, consecutive, until, greedy,
        type_col,
    )
    within_us = _parse_within_us(within)
    feed, prune = _make_am_nfa(
        within_us=within_us,
        cap=max_matches_per_key,
        complete_at=_complete_at,
        **spec,
    )
    cols = _cep_cols(key_col, ts_col, type_col, tiebreak_col)
    if spec["valued"]:
        cols.append(F.col(value_col).cast("double").alias("__v"))
        # valued-mode event identity excludes NULL-valued rows (the
        # contract shared with the batch operators)
        events = events.filter(F.col(value_col).isNotNull())
    return keyed_stream(
        events,
        cols,
        _make_cep_am_fn(feed, prune, within_us, max_matches_per_key),
        _us_to_ts("user_id", "start_us", "end_us", "n_events", "chain_str"),
        ts_col,
        watermark_delay,
    )


def cep_group_times_stream(
    events: DataFrame,
    group: list[str | tuple[str, int, int]],
    times: tuple[int, int],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming PATTERN GROUPS — the live twin of
    operators/cep.py::cep_group_times (``Pattern.begin(sub)
    .times(m, n)``). Where the batch operator runs the NFA once per
    repeat count over each key's history and keeps the distinct
    chains, the stream runs ONE NFA over the fully-flattened
    ``group × n`` block list whose completions fire exclusively at
    REPETITION BOUNDARIES reachable after ``m`` full passes — the same
    all-or-nothing semantics in one state row per key. A partial that
    emits at boundary r survives to consume repetition r + 1, exactly
    the batch side's longer chains; identical event sets dedup in the
    per-group completion dict as usual.

    Restriction: the group's LAST block must be non-optional
    (``mn >= 1``) — a skipped trailing optional would complete with
    its last consumption outside the boundary block, which the
    boundary rule cannot see; the batch operator keeps full
    generality."""
    m, n = times
    if not 1 <= m <= n:
        raise ValueError(f"group times needs 1 <= m <= n, got {times}")
    base = _normalize_blocks(group)
    if any(mx is None for _, _, mx in base):
        raise ValueError(
            "unbounded blocks inside a repeated group are not supported"
        )
    if base[-1][1] < 1:
        raise ValueError(
            "the streaming group twin needs a non-optional last block "
            "in the group (min >= 1)"
        )
    complete_at = {len(base) * r - 1 for r in range(m, n + 1)}
    return cep_all_matches_stream(
        events,
        list(base) * n,
        within,
        key_col=key_col,
        ts_col=ts_col,
        type_col=type_col,
        tiebreak_col=tiebreak_col,
        watermark_delay=watermark_delay,
        _complete_at=complete_at,
    )


CEP_STRICT_OUTPUT_SCHEMA = "user_id BIGINT, start_us BIGINT, end_us BIGINT"
CEP_STRICT_STATE_SCHEMA = "types ARRAY<STRING>, ts_us ARRAY<LONG>"


def _make_cep_strict_fn(steps: list[str], within_us: int | None) -> KeyedCore:
    """Core of strict-contiguity (next) streaming matches: the state
    is a ring buffer of the key's last k−1 events (type + ts), so a
    pattern spanning a micro-batch boundary still fires. Every match
    position emits, exactly like the batch lead-conjunction
    (overlapping runs of length n emit n−k+1 matches). Untimed."""
    k = len(steps)

    def load(row):
        return (list(row[0]), list(row[1])) if row else ([], [])

    def feed(st, rows, wm):
        types, ts = st
        out = []
        pdf = rows()
        for t_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
            types.append(str(etype))
            ts.append(int(t_us))
            if len(types) > k:
                del types[0], ts[0]
            if len(types) == k and types == steps:
                if within_us is None or ts[-1] - ts[0] <= within_us:
                    out.append((ts[0], ts[-1]))
        # Carry only the longest suffix that is a PREFIX of steps (the
        # KMP failure-function insight): any other tail can never be
        # part of a future consecutive match, so most keys carry no
        # state at all — the store stays O(keys mid-pattern).
        carry = 0
        for j in range(min(len(types), k - 1), 0, -1):
            if types[-j:] == steps[:j]:
                carry = j
                break
        del types[: len(types) - carry], ts[: len(ts) - carry]
        return out

    def save(st, wm):
        return (st, None) if st[0] else None

    return KeyedCore(
        CEP_STRICT_OUTPUT_SCHEMA, CEP_STRICT_STATE_SCHEMA, load, feed, save
    )


def cep_strict_matches_stream(
    events: DataFrame,
    steps: list[str],
    within: str | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming strict-contiguity CEP (Flink `next`): every position
    where a key's CONSECUTIVE events spell ``steps`` — the live form
    of operators/cep.py::cep_strict_matches, which the
    stream-equals-batch test pins. State per key is the last k−1
    events (a bounded ring buffer, independent of stream length), so
    matches crossing micro-batch boundaries fire correctly; in-order
    arrival per key is the contract, as for the other CEP automata."""
    if len(steps) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")
    within_us = None if within is None else _parse_within_us(within)
    return keyed_stream(
        events,
        _cep_cols(key_col, ts_col, type_col, tiebreak_col),
        _make_cep_strict_fn(steps, within_us),
        _us_to_ts("user_id", "start_us", "end_us"),
    )

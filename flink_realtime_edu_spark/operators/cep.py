"""Generic k-step CEP pattern matching — the Flink `Pattern.begin()
.followedBy()...` / `.next()` shapes as DataFrame compositions
(SURVEY.md §2 exhaustiveness note; VERDICT r4 "What's missing" #5).

The Flink family uses CEP for funnels and timeout alarms; the fixed
3-step funnels here were previously hand-written lead/lag queries.
This operator generalizes to ANY step list, in both contiguity
modes, with declared first-match semantics:

- ``mode="relaxed"`` (Flink ``followedBy``): the EARLIEST completion
  chain — step 1 matches the key's first event of that type, each
  later step the first matching event strictly after the previous
  step, and the whole chain must fit in ``within``. Built as k−1
  min-after join/agg rounds on the key: every round is one hash
  aggregate + one join on the key column, so the plan is k−1 keyed
  shuffles — no per-key Python, no state machine, scales like any
  star join. (Earliest-chain is Flink's skip-till-next-match
  restricted to the first match per key — the funnel-conversion
  question the family's warehouse actually asks.)
- ``mode="strict"`` (Flink ``next``): the pattern must occupy
  CONSECUTIVE events of the key — expressed with one window sort per
  key and a conjunction of ``lead(type, i) = step_i`` predicates;
  every match position is reported. One shuffle total.

Timeout detection (the family's "clicked but never purchased within
N minutes" alarm) is the relaxed mode's complement — see
queries/time_semantics.py::abandoned_clicks_daily for the
anti-join form.

Both modes are plain Catalyst plans, so the DuckDB oracle replays
them as chained CTEs / window SQL (queries/cep.py) — exact value
checks, not smoke tests. So are the quantified (``cep_times``) and
negative (``cep_not_followed_by`` / ``cep_not_next``) first-match
forms.

The ALL-matches family — ``cep_all_matches``,
``cep_after_match_skip`` and ``cep_group_times`` — is one NFA for
both engines, as Flink CEP compiles every Pattern into one NFA: each
is a single ``applyInPandas`` over the events grouped by key that
feeds the key's rows through the streaming twin's automaton
(streaming/cep.py::_make_am_nfa) and ranks the kept chains, so batch
and stream agree by construction. The oracle's slot-by-slot SQL
enumeration (queries/cep.py) and the brute-force references in
tests/test_properties.py are the independent checks of that NFA.
First-match and timeouts keep their DataFrame plans because they use
FIRST-ATTEMPT semantics (the key's greedy earliest chain, never
retried from a later start), which is not the NFA's first
completion; strict contiguity and negatives are not features of that
NFA.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def _compile_predicate(cond: str, names: tuple[str, ...]):
    """Compile the restricted SQL condition grammar — comparisons,
    +-*/%, AND/OR/NOT, numeric/string literals over the given
    identifiers — into a Python callable taking those identifiers
    POSITIONALLY. One spec string drives both engines (VERDICT r9
    item 4): the batch enumeration evaluates the string as a join
    conjunct (F.expr / the DuckDB oracle rewrite), the streaming NFA
    evaluates this compilation — so a stream ≡ batch test can pass
    the SAME string the registered query uses. Anything outside the
    grammar (function calls, subscripts, attributes, unknown names)
    raises at compile time rather than evaluating arbitrary code."""
    import ast

    src = re.sub(r"<>", "!=", cond)
    src = re.sub(r"(?<![<>!=])=(?!=)", "==", src)
    src = re.sub(r"\bAND\b", " and ", src, flags=re.I)
    src = re.sub(r"\bOR\b", " or ", src, flags=re.I)
    src = re.sub(r"\bNOT\b", " not ", src, flags=re.I)
    src = re.sub(r"\bTRUE\b", " True ", src, flags=re.I)
    src = re.sub(r"\bFALSE\b", " False ", src, flags=re.I)
    tree = ast.parse(src.strip(), mode="eval")
    allowed = (
        ast.Expression, ast.BoolOp, ast.And, ast.Or, ast.UnaryOp,
        ast.Not, ast.USub, ast.BinOp, ast.Add, ast.Sub, ast.Mult,
        ast.Div, ast.Mod, ast.Compare, ast.Lt, ast.Gt, ast.LtE,
        ast.GtE, ast.Eq, ast.NotEq, ast.Name, ast.Load, ast.Constant,
    )
    for node in ast.walk(tree):
        if not isinstance(node, allowed):
            raise ValueError(
                f"unsupported construct {type(node).__name__} in CEP "
                f"condition {cond!r} (grammar: comparisons, +-*/%, "
                f"AND/OR/NOT over {sorted(names)})"
            )
        if isinstance(node, ast.Name) and node.id not in names:
            raise ValueError(
                f"unknown identifier {node.id!r} in CEP condition "
                f"{cond!r} (allowed: {sorted(names)})"
            )
        if isinstance(node, ast.Constant) and not isinstance(
            node.value, (bool, int, float, str)
        ):
            raise ValueError(
                f"unsupported literal {node.value!r} in CEP condition"
            )
    code = compile(tree, "<cep-condition>", "eval")

    def fn(*args):
        return bool(eval(code, {"__builtins__": {}}, dict(zip(names, args))))

    return fn


def compile_condition(cond: str):
    """Iterative-condition string → ``(v, vsum, vcnt, vmin, vmax) ->
    bool`` (the streaming NFA's conditions signature)."""
    return _compile_predicate(cond, ("__v", "vsum", "vcnt", "vmin", "vmax"))


def compile_stop(cond: str, type_name: str = "event_type"):
    """until() stop-condition string → ``(v, event_type) -> bool``
    (the streaming NFA's stop signature)."""
    return _compile_predicate(cond, ("__v", type_name))


def _parse_within_us(within: str) -> int:
    """'<n> hours' / '<n> minutes' style horizon → microseconds (the
    one parser, shared with the streaming NFA in streaming/cep.py)."""
    qty, unit = within.split()
    mult = {
        "second": 1,
        "seconds": 1,
        "minute": 60,
        "minutes": 60,
        "hour": 3600,
        "hours": 3600,
        "day": 86400,
        "days": 86400,
    }[unit.lower()]
    return int(qty) * mult * 1_000_000


def cep_first_match(
    events: DataFrame,
    steps: list[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Relaxed-contiguity (followedBy) earliest completion per key:
    one row per key that completes all ``steps`` in order within
    ``within`` (an INTERVAL string, e.g. '24 hours') — columns
    (key, start_ts, end_ts, duration_s). Plan: k−1 (min-agg + join)
    rounds keyed on ``key_col``; the within-filter applies at the
    end so intermediate chains stay monotone-minimal."""
    if len(steps) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    prev = "t1"
    for i, s in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col(type_col) == s)
            .select(key_col, F.col(ts_col).alias("__ts"))
            .join(cur, on=key_col)
            .filter(F.col("__ts") > F.col(prev))
            .groupBy(key_col, *[c for c in cur.columns if c != key_col])
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        cur = nxt
        prev = f"t{i}"
    last = f"t{len(steps)}"
    return (
        cur.filter(
            F.col(last) <= F.col("t1") + F.expr(f"INTERVAL {within}")
        )
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col(last).alias("end_ts"),
            (
                F.unix_micros(F.col(last)) - F.unix_micros("t1")
            ).cast("double").alias("duration_us"),
        )
        .withColumn("duration_s", F.round(F.col("duration_us") / 1e6, 6))
        .drop("duration_us")
    )


def cep_timed_out(
    events: DataFrame,
    steps: list[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Timeout SIDE OUTPUT of the relaxed pattern — Flink CEP's
    timed-out partial matches (`PatternTimeoutFunction` /
    `TimedOutPartialMatchHandler`): keys that STARTED the pattern but
    had not completed it when the ``within`` horizon closed, with the
    prefix they did match.

    Semantics (first-attempt per key, the same restriction
    :func:`cep_first_match` declares): the greedy earliest chain
    t1 < t2 < … is computed WITHOUT a horizon via k−1 left-join
    min-after rounds, then cut at ``horizon = t1 + within``. Because
    every t_i is the earliest possible continuation, the prefix of
    the chain with t_i <= horizon is exactly what an NFA whose window
    closed at the horizon had matched — a completed-but-late chain is
    a timeout too (matched < k at the horizon), as in Flink. Keys
    that never match step 1 start no pattern and emit nothing.

    Emits (key, start_ts, horizon_ts, matched_steps, last_matched_ts,
    awaiting) for each timed-out key. Plan: the same k−1 keyed
    join/agg rounds as the match side (left joins here), so match +
    timeout together cost two chain passes — no per-key Python.
    Complement: rows where matched == k are precisely
    :func:`cep_first_match`'s output keys."""
    if len(steps) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")
    k = len(steps)
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    for i, s in enumerate(steps[1:], start=2):
        ev_s = events.filter(F.col(type_col) == s).select(
            F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts")
        )
        # Left join keeps stalled chains (t_{i-1} null ⇒ condition
        # null ⇒ unmatched ⇒ t_i null) flowing to the final cut.
        cur = (
            cur.join(
                ev_s,
                (cur[key_col] == ev_s["__k"])
                & (F.col("__ts") > F.col(f"t{i - 1}")),
                "left",
            )
            .groupBy(*[F.col(c) for c in cur.columns])
            .agg(F.min("__ts").alias(f"t{i}"))
        )
    horizon = F.col("t1") + F.expr(f"INTERVAL {within}")
    # t_i are strictly increasing where defined, so this sum counts
    # the prefix matched when the horizon closed.
    matched = F.lit(1)
    for i in range(2, k + 1):
        matched = matched + F.coalesce(
            (F.col(f"t{i}") <= horizon).cast("int"), F.lit(0)
        )
    last_ts = F.col("t1")
    awaiting = F.lit(steps[1])
    for i in range(2, k + 1):
        last_ts = F.when(F.col("__matched") >= i, F.col(f"t{i}")).otherwise(
            last_ts
        )
        if i < k:
            awaiting = F.when(
                F.col("__matched") == i, F.lit(steps[i])
            ).otherwise(awaiting)
    return (
        cur.withColumn("__matched", matched)
        .filter(F.col("__matched") < k)
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            horizon.alias("horizon_ts"),
            F.col("__matched").alias("matched_steps"),
            last_ts.alias("last_matched_ts"),
            awaiting.alias("awaiting"),
        )
    )


def cep_times(
    events: DataFrame,
    steps: list[tuple[str, int]],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Quantified relaxed-contiguity pattern — Flink's
    ``Pattern.begin("click").times(3).followedBy("purchase")`` shape:
    each ``(event_type, count)`` block must occur ``count`` times (in
    event-time order, relaxed contiguity) before the next block
    starts, the whole chain within ``within`` of its first event.

    Semantics: the EARLIEST completion chain per key, exactly
    :func:`cep_first_match` over the FLATTENED step list (each
    occurrence strictly after the previous — for a same-type block
    the earliest strictly-increasing chain of m events is the block's
    m smallest DISTINCT timestamps, which is what dense_rank picks;
    pinned by an equivalence test). Emits (key, start_ts, end_ts,
    duration_s) like cep_first_match.

    Plan: ONE keyed window pass per BLOCK (dense_rank + conditional
    min-agg) instead of one join round per OCCURRENCE — a times(10)
    block costs the same two shuffles as a times(2) block, where the
    flattened cep_first_match would pay 9 join/agg rounds. Blocks
    after the first add one keyed join each. No per-key Python, no
    state machine; scales like any keyed window query.

    Why there is no ``times(m, n)`` range or ``optional()`` here:
    under EARLIEST-COMPLETION first-match semantics (this module's
    declared restriction) they degenerate — consuming more than the
    minimum occurrences of a block can only push every later step's
    earliest admissible event later, so the earliest chain for
    times(m, n) is exactly times(m), and an optional block is exactly
    times(0) = absent. Range/optional quantifiers only become
    distinguishable under ALL-matches enumeration (Flink's
    skip-till-any-match) — :func:`cep_all_matches` implements exactly
    that mode with a per-key match cap, making them non-degenerate."""
    if not steps or sum(m for _, m in steps) < 2:
        raise ValueError("a quantified CEP pattern needs >= 2 total events")
    if any(m < 1 for _, m in steps):
        raise ValueError("every quantifier count must be >= 1")
    cur = None
    base = 0  # timestamps emitted so far (t1..t{base})
    for s, m in steps:
        if cur is None:
            ranked = (
                events.filter(F.col(type_col) == s)
                .select(key_col, ts_col)
                .withColumn(
                    "__dr",
                    F.dense_rank().over(
                        Window.partitionBy(key_col).orderBy(ts_col)
                    ),
                )
                .filter(F.col("__dr") <= m)
            )
            cur = ranked.groupBy(key_col).agg(
                *[
                    F.min(
                        F.when(F.col("__dr") == j, F.col(ts_col))
                    ).alias(f"t{base + j}")
                    for j in range(1, m + 1)
                ]
            )
        else:
            prev = f"t{base}"
            ev_s = events.filter(F.col(type_col) == s).select(
                F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts")
            )
            # cur is one row per key (min-agg chains), so the window
            # partitions on the key alone.
            ranked = (
                cur.join(
                    ev_s,
                    (cur[key_col] == ev_s["__k"])
                    & (F.col("__ts") > F.col(prev)),
                )
                .drop("__k")
                .withColumn(
                    "__dr",
                    F.dense_rank().over(
                        Window.partitionBy(key_col).orderBy("__ts")
                    ),
                )
                .filter(F.col("__dr") <= m)
            )
            prev_cols = [f"t{j}" for j in range(1, base + 1)]
            cur = ranked.groupBy(key_col, *prev_cols).agg(
                *[
                    F.min(F.when(F.col("__dr") == j, F.col("__ts"))).alias(
                        f"t{base + j}"
                    )
                    for j in range(1, m + 1)
                ]
            )
        base += m
        # A key lacking the block's full count stalls out here (the
        # chain cannot complete, and later blocks would propagate the
        # null anyway) — dropping it early keeps the join inputs small.
        cur = cur.filter(F.col(f"t{base}").isNotNull())
    last = f"t{base}"
    return (
        cur.filter(F.col(last) <= F.col("t1") + F.expr(f"INTERVAL {within}"))
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col(last).alias("end_ts"),
            (
                F.unix_micros(F.col(last)) - F.unix_micros("t1")
            ).cast("double").alias("duration_us"),
        )
        .withColumn("duration_s", F.round(F.col("duration_us") / 1e6, 6))
        .drop("duration_us")
    )


def cep_all_matches(
    events: DataFrame,
    steps: list[str | tuple[str, int, int | None]],
    within: str,
    max_matches_per_key: int = 100,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conditions: dict[int, str] | None = None,
    value_col: str = "value",
    consecutive: set[int] | None = None,
    until: dict[int, str] | None = None,
    greedy: set[int] | None = None,
) -> DataFrame:
    """ALL-matches enumeration under relaxed contiguity — Flink's
    ``AfterMatchSkipStrategy.skipToNext()`` / skip-till-any-match
    mode, the one ``Pattern`` capability the first-match operators
    above deliberately exclude (VERDICT r6 item 3). Quantifier ranges
    and optional blocks are NON-degenerate here: each step is either
    a type name (shorthand for exactly one occurrence) or a
    ``(type, min, max)`` block — ``times(m, n)`` is ``(t, m, n)``,
    ``optional()`` is ``(t, 0, 1)``.

    Semantics (declared, oracle-exact): events are the DISTINCT
    (key, type, ts) triples; a match is a strictly-increasing
    timestamp chain assigning block i between min_i and max_i events
    of its type, every event within ``within`` of the chain's first;
    matches are distinct EVENT SETS (two block assignments producing
    the same chain — possible only for adjacent same-type blocks —
    count once). Per key, the first ``max_matches_per_key`` chains in
    chain-lexicographic order emit as (key, start_ts, end_ts,
    n_events, chain_str, match_no).

    ``conditions`` (optional) adds Flink's ITERATIVE CONDITIONS
    (``IterativeCondition`` / ``ctx.getEventsForPattern``, the one
    Pattern-API feature where a step's predicate reads the PARTIAL
    match): a dict mapping a 1-based block index to a SQL boolean
    expression evaluated for every candidate event that block would
    consume, over the scalars

    - ``__v``   — the candidate event's ``value_col``;
    - ``vsum`` / ``vcnt`` / ``vmin`` / ``vmax`` — running aggregates
      of the chain's ALREADY-CONSUMED events' values (the candidate
      excluded), e.g. ``"__v > vsum / vcnt"`` = "bigger than the mean
      of the chain so far".

    Restricting conditions to running aggregates (not the raw
    prior-event list) is what keeps the oracle exact: the identical
    expression text evaluates in DuckDB's CTE replay, both engines
    folding values in chain order. The pattern's very first event has
    no prior chain and is never conditioned (a value predicate there
    is Flink's SimpleCondition — pre-filter ``events`` instead); a
    chain reachable under several block assignments is valid if ANY
    assignment satisfies every condition. Event identity stays the
    distinct (key, type, ts) triple; ``value_col`` resolves per
    triple as MIN over its non-NULL duplicates, and a triple with
    only NULL values is not a valued event at all.

    ``consecutive`` (optional, a set of 1-based block indices) applies
    Flink's ``consecutive()`` looping contiguity to those blocks: the
    block's 2nd..nth occurrences must be the key's IMMEDIATELY-next
    events — any intervening event of the key (any type) breaks the
    run, exactly the documented strict-within-loop semantics, with
    same-timestamp events ordered by type (the declared determinism).
    The relation between the block's first occurrence and the previous
    block stays relaxed (followedBy), as in Flink; blocks NOT listed
    default to ``allowCombinations()`` (skip-till-any).

    UNBOUNDED LOOPING blocks — Flink's ``oneOrMore()`` /
    ``timesOrMore(m)`` — are ``(type, m, None)``: no declared upper
    bound. Their loop contiguity is Flink's DEFAULT for looping
    patterns, RELAXED: the block consumes a CONTIGUOUS run of the
    key's candidates of its type (events of other types are skipped;
    a same-type candidate is never skipped mid-run), starting at any
    candidate — on input b1 b2 b3, ``b.oneOrMore()`` matches {b1},
    {b1 b2}, {b1 b2 b3}, {b2}, {b2 b3}, {b3}, exactly the documented
    Flink relaxed-loop expansion (allowCombinations' subset expansion
    applies only to FINITE ``times(m,n)`` blocks). Listing an
    unbounded block in ``consecutive`` tightens its runs to strict
    contiguity as usual. Iterative ``conditions`` are NOT supported on
    unbounded blocks (``until`` is the supported way to stop a loop on
    data) — a condition there raises.

    ``until`` (1-based block index -> SQL boolean over ``__v`` and
    the type column) is Flink's ``until()`` loop-stop condition,
    restricted to unbounded blocks as in Flink: an event satisfying
    the expression is a STOP event. Declared semantics (the NFA's
    blocked take+ignore transitions, oracle-exact): the loop never
    consumes a stop event, and a stop event strictly between the
    chain's last pre-loop event and the loop's first consumed event,
    between two consumed loop events, or between the last consumed
    loop event and the chain's next consumed event KILLS the chain —
    branches that already proceeded past the loop are unaffected,
    and a stop event AT the very timestamp of a consumed event does
    not kill (same-ts events carry no order, the declared tie rule).
    When the expression reads ``__v`` the valued event identity
    applies even without ``conditions``.

    ``greedy`` (a set of 1-based UNBOUNDED block indices) is Flink's
    ``greedy()`` quantifier preference: the loop consumes the
    MAXIMAL run before the pattern may proceed — a chain is kept
    only if, at its first consumption after the loop at timestamp n,
    the run could not have extended: the candidate following the
    run's last event does not exist, lies beyond the chain's
    ``within`` horizon, or arrives at-or-after n. Like Flink, a
    greedy block must not be the pattern's last element, and
    combining greedy with ``consecutive`` on one block is not
    supported.

    Plan: one ``applyInPandas`` over the events grouped by key, which
    feeds each key's rows once through the streaming twin's NFA
    (streaming/cep.py::_make_am_nfa — one automaton for both engines)
    and ranks the kept chains. Per-key work is the NFA's: the live
    partials inside one ``within`` horizon — the enumeration fanout
    that is the SEMANTICS of all-matches (Flink pays it as NFA branch
    state), so callers with dense keys should bound ``within`` first.
    Unbounded loops run as long as the data does; no slot bound
    exists."""
    from flink_realtime_edu_spark.streaming.cep import (
        _all_matches_spec,
        _make_am_nfa,
    )

    spec = _all_matches_spec(
        steps,
        conditions=conditions,
        consecutive=consecutive,
        until=until,
        greedy=greedy,
        type_col=type_col,
    )
    feed, _ = _make_am_nfa(within_us=_parse_within_us(within), **spec)
    return _kept_matches(
        events, [feed], spec, max_matches_per_key, key_col, ts_col,
        type_col, value_col,
    )


def cep_group_times(
    events: DataFrame,
    group: list[str | tuple[str, int, int | None]],
    times: tuple[int, int],
    within: str,
    max_matches_per_key: int = 100,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Flink PATTERN GROUPS — ``Pattern.begin(subpattern).times(m, n)``,
    a quantified SUB-SEQUENCE (VERDICT r9 missing #2): the whole
    ``group`` block list must repeat between ``m`` and ``n`` times,
    each repetition a full left-to-right pass over the sub-pattern,
    with relaxed (followedBy) contiguity between repetitions — the
    one structural composition per-block quantifiers cannot express,
    because a group's repetition is all-or-nothing (flattening
    ``times(1, 2)`` of (A, B) into A B A? B? would accept A B A and
    A B B, which the group forbids).

    Declared semantics (enumeration composition, oracle-exact): for
    each repeat count r in [m, n], the match set of the FLATTENED
    block list ``group × r`` under the all-matches enumeration (the
    repetition boundary adds no constraint beyond the ordinary
    relaxed block transition, exactly Flink's GroupPattern under
    skip-till-any); the group's matches are the distinct (key, event
    set) union over r — a chain reachable at several repeat counts
    (possible when the group's own blocks carry ranges) counts once.
    Same output contract as cep_all_matches (chain-lexicographic
    match_no, per-key cap).

    Plan: the cep_all_matches ``applyInPandas``, whose per-key function
    runs the NFA once per repeat count over the flattened block list
    and keeps the distinct chains — so the group's last block may be
    optional (the streaming twin's single boundary-emitting NFA cannot
    see such a completion). Unbounded blocks inside a group are
    rejected (an unbounded loop inside a repeated group multiplies two
    data-dependent loops; Flink's own GroupPattern support likewise
    excludes several modifier combinations)."""
    from flink_realtime_edu_spark.streaming.cep import (
        _all_matches_spec,
        _make_am_nfa,
    )

    m, n = times
    if not 1 <= m <= n:
        raise ValueError(f"group times needs 1 <= m <= n, got {times}")
    spec = _all_matches_spec(group)
    base = spec["blocks"]
    if any(mx is None for _, _, mx in base):
        raise ValueError(
            "unbounded blocks inside a repeated group are not supported"
        )
    within_us = _parse_within_us(within)
    feeds = [_make_am_nfa(base * r, within_us)[0] for r in range(m, n + 1)]
    return _kept_matches(
        events, feeds, spec, max_matches_per_key, key_col, ts_col, type_col
    )


def _kept_matches(
    events: DataFrame,
    feeds: list,
    spec: dict,
    max_matches_per_key: int,
    key_col: str,
    ts_col: str,
    type_col: str,
    value_col: str = "value",
) -> DataFrame:
    """The batch adapter of the all-matches NFA: one ``applyInPandas``
    over ``events`` grouped by key. Each key's rows (sorted by ts)
    run through every ``feeds`` NFA from a fresh state with no cap;
    the distinct kept chains rank chain-lexicographically, and the
    first ``max_matches_per_key`` emit as (key, start_ts, end_ts,
    n_events, chain_str, match_no).

    ``spec`` is the pattern's streaming/cep.py::_all_matches_spec.
    Without consecutive or until, events of types no block names
    cannot change any chain, so they are filtered out before the
    shuffle; valued patterns drop NULL-valued rows (the valued event
    identity)."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from flink_realtime_edu_spark.streaming.cep import _make_am_nfa
    from flink_realtime_edu_spark.streaming.stateful import _sorted_rows

    if max_matches_per_key < 1:
        raise ValueError("max_matches_per_key must be >= 1")
    cols = [
        F.col(key_col),
        F.unix_micros(ts_col).alias("ts_us"),
        F.col(type_col).alias("event_type"),
    ]
    if spec["valued"]:
        cols.append(F.col(value_col).cast("double").alias("__v"))
        events = events.filter(F.col(value_col).isNotNull())
    if not spec["consecutive"] and not spec["until"]:
        events = events.filter(
            F.col(type_col).isin(sorted({t for t, _, _ in spec["blocks"]}))
        )
    schema = StructType(
        [
            events.schema[key_col],
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n_events", IntegerType()),
            StructField("chain_str", StringType()),
            StructField("match_no", IntegerType()),
        ]
    )

    def per_key(key, pdf):
        pdf = _sorted_rows([pdf], by=("ts_us",))
        kept = set()
        for feed in feeds:
            kept.update(tuple(c) for c in feed({}, pdf))
        chains = sorted(kept)[:max_matches_per_key]
        return pd.DataFrame(
            {
                key_col: [key[0]] * len(chains),
                "start_us": [c[0] for c in chains],
                "end_us": [c[-1] for c in chains],
                "n_events": [len(c) for c in chains],
                "chain_str": ["|".join(map(str, c)) for c in chains],
                "match_no": list(range(1, len(chains) + 1)),
            },
            columns=schema.names,
        )

    return (
        events.select(*cols)
        .groupBy(key_col)
        .applyInPandas(per_key, schema=schema)
        .select(
            key_col,
            F.timestamp_micros("start_us").alias("start_ts"),
            F.timestamp_micros("end_us").alias("end_ts"),
            "n_events",
            "chain_str",
            "match_no",
        )
    )


def _normalize_blocks(
    steps: list[str | tuple[str, int, int | None]],
) -> list[tuple[str, int, int | None]]:
    """``max = None`` declares an UNBOUNDED looping block — Flink's
    ``oneOrMore()`` is ``(t, 1, None)`` and ``timesOrMore(m)`` is
    ``(t, m, None)``."""
    blocks: list[tuple[str, int, int | None]] = [
        (s, 1, 1)
        if isinstance(s, str)
        else (s[0], int(s[1]), None if s[2] is None else int(s[2]))
        for s in steps
    ]
    if not blocks:
        raise ValueError("a CEP pattern needs at least one block")
    if any(
        m < 0 or (n is not None and n < max(m, 1)) for _, m, n in blocks
    ):
        raise ValueError("each block needs 0 <= min and max >= max(min, 1)")
    if blocks[0][1] < 1:
        raise ValueError("the first block must be non-optional (min >= 1)")
    if all(n is not None for _, _, n in blocks) and (
        sum(n for _, _, n in blocks) < 2
    ):
        raise ValueError("a CEP pattern needs >= 2 total possible events")
    return blocks


def cep_after_match_skip(
    events: DataFrame,
    steps: list[str | tuple[str, int, int]],
    within: str,
    strategy: str = "no_skip",
    max_matches_per_key: int = 100,
    skip_block: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Flink's ``AfterMatchSkipStrategy`` over the all-matches
    enumeration — completes the Pattern-API skip-strategy enum that
    r7's ``cep_all_matches`` opened (its NO_SKIP mode). Every strategy
    is defined in COMPLETION order, the order Flink's NFA emits in;
    a key's completions at one end timestamp emit together, judged
    against the strategy memory in force before that timestamp:

    - ``"no_skip"``: every distinct event-set chain (delegates to
      ``cep_all_matches``).
    - ``"skip_to_next"``: after a match starting at event e emits,
      every other partial starting at e is discarded — so the kept
      match per (key, start event) is the first-EMITTED one: the chain
      with the earliest last event wins (ties on the end timestamp
      broken chain-lexicographically, a declared determinism Flink
      leaves to NFA internals).
    - ``"skip_past_last_event"``: after a match emits, every partial
      that started at-or-before its last event is discarded, so
      matching resumes past the match: walking a key's distinct
      completion timestamps in order, every surviving match ending
      there (start strictly after the previously emitted completion
      timestamp) emits, and if any emitted, that timestamp becomes the
      new resume point.
    - ``"skip_to_first"`` / ``"skip_to_last"`` (require ``skip_block``,
      the 1-based index of the pattern element Flink's
      ``skipToFirst("p")`` / ``skipToLast("p")`` name): after a match
      emits, every partial that started AFTER the match's own start
      but BEFORE the first/last event the match assigned to that
      block is discarded — partials started before the match's start
      survive (Flink's documented interval, narrower than
      skip_past_last's). Kept matches accumulate half-open DISCARD
      INTERVALS ``[match_start, anchor)``; a chain that assigns no
      event to the block — an optional block skipped — contributes no
      interval, and a chain reachable under several block assignments
      anchors at the minimum defined timestamp. ``skip_to_first`` of
      block 1 anchors every match at its own start — an empty
      interval, i.e. NO_SKIP (the degenerate case Flink rejects at
      pattern-compile time; benign here).

    Output schema matches ``cep_all_matches``: (key, start_ts,
    end_ts, n_events, chain_str, match_no) with match_no the
    chain-lexicographic rank among KEPT matches, capped at
    ``max_matches_per_key``. Plan: the cep_all_matches
    ``applyInPandas``; the NFA applies the strategy online, exactly as
    the streaming twin does. The DuckDB oracle replays no_skip /
    skip_to_next as window SQL and the three walk strategies as
    recursive CTEs over a slot-by-slot enumeration (queries/cep.py),
    so all five strategies carry exact value checks against an
    independent implementation."""
    if strategy == "no_skip":
        return cep_all_matches(
            events,
            steps,
            within,
            max_matches_per_key=max_matches_per_key,
            key_col=key_col,
            ts_col=ts_col,
            type_col=type_col,
        )
    from flink_realtime_edu_spark.streaming.cep import (
        _all_matches_spec,
        _make_am_nfa,
    )

    spec = _all_matches_spec(steps, strategy, skip_block, type_col=type_col)
    feed, _ = _make_am_nfa(within_us=_parse_within_us(within), **spec)
    return _kept_matches(
        events, [feed], spec, max_matches_per_key, key_col, ts_col, type_col
    )


def cep_strict_matches(
    events: DataFrame,
    steps: list[str],
    within: str | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Strict-contiguity (next) matches: every position where the
    key's CONSECUTIVE events (ts order, tie-broken by ``order_cols``)
    spell out ``steps`` exactly, optionally within ``within`` from
    first to last event. One window sort per key; emits
    (key, start_ts, end_ts) per match."""
    if len(steps) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")
    order = [ts_col] + (order_cols or [])
    w = Window.partitionBy(key_col).orderBy(*order)
    cond = F.col(type_col) == steps[0]
    for i, s in enumerate(steps[1:], start=1):
        cond = cond & (F.lead(type_col, i).over(w) == s)
    end_ts = F.lead(ts_col, len(steps) - 1).over(w)
    out = events.select(
        key_col,
        F.col(ts_col).alias("start_ts"),
        end_ts.alias("end_ts"),
        cond.alias("__m"),
    ).filter("__m").drop("__m")
    if within is not None:
        out = out.filter(
            F.col("end_ts") <= F.col("start_ts") + F.expr(f"INTERVAL {within}")
        )
    return out


def _split_negatives(
    steps: list[str | tuple[str, str]],
) -> tuple[list[str], list[tuple[int, str]]]:
    """Split a mixed step list into the positive chain and its
    negative constraints. A negative is ``("not", type)``; its gap
    index g means "between positive g and g+1" (1-based), with
    g == len(positives) marking the pattern tail."""
    pos: list[str] = []
    neg: list[tuple[int, str]] = []
    for s in steps:
        if isinstance(s, str):
            pos.append(s)
        else:
            tag, etype = s
            if tag != "not":
                raise ValueError(
                    f"negative steps must be ('not', type), got {s!r}"
                )
            if not pos:
                raise ValueError(
                    "a pattern cannot begin with a negative step "
                    "(Flink Pattern.begin must be positive)"
                )
            neg.append((len(pos), etype))
    if not pos:
        raise ValueError("a CEP pattern needs at least one positive step")
    if len(pos) + len(neg) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")
    return pos, neg


def cep_not_followed_by(
    events: DataFrame,
    steps: list[str | tuple[str, str]],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Relaxed-contiguity pattern with NEGATIVE steps — Flink's
    ``Pattern.notFollowedBy()``, the Pattern-API surface the positive
    operators above don't reach. ``steps`` mixes type names (positive,
    ``followedBy`` semantics) with ``("not", type)`` markers:

    - a negative BETWEEN two positives invalidates the key's match if
      any event of that type falls strictly between their matched
      timestamps — exactly the NFA behavior, where a B arriving while
      the partial awaits C kills the partial;
    - a negative at the TAIL (Flink requires ``within`` for a trailing
      notFollowedBy, as here) invalidates the match if the type occurs
      after the last matched event and at-or-before the horizon
      ``t1 + within`` — the match only emits once the window closes
      silent.

    Semantics (r8, Flink-faithful): the NFA spawns a partial at EVERY
    occurrence of the first positive type, so a negative kills only
    THAT partial — a key whose earliest chain is poisoned (or times
    out) can still match from a later start. Per candidate start t1,
    the chain is the greedy earliest continuation (each positive takes
    the first qualifying event after the previous, never beyond the
    start's ``t1 + within`` horizon — beyond-horizon events cannot
    extend a partial whose window already closed); the emitted row per
    key is the FIRST of its valid chains in completion order (Flink
    emits on completion; end-timestamp ties break toward the earliest
    start, the declared determinism). Emits the cep_first_match schema
    (key, start_ts, end_ts, duration_s), one row per key.

    Plan: k−1 min-after join/agg rounds keyed per (key, start) — the
    intermediate is one row per candidate start, exactly the NFA's
    live-partial count, horizon-pruned AT each join — plus ONE keyed
    left-anti join per negative (equi on the key, range predicate on
    the gap) and one window pass for the completion-order pick. Every
    round a plain keyed shuffle, no per-key Python, no state machine.
    The DuckDB oracle replays the per-start chain CTEs plus one NOT
    EXISTS per negative plus the same window pick (queries/cep.py)."""
    pos, neg = _split_negatives(steps)
    k = len(pos)
    horizon = F.col("t1") + F.expr(f"INTERVAL {within}")
    cur = (
        events.filter(F.col(type_col) == pos[0])
        .select(key_col, F.col(ts_col).alias("t1"))
        .distinct()
    )
    for i, s in enumerate(pos[1:], start=2):
        ev_s = events.filter(F.col(type_col) == s).select(
            F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts")
        )
        cur = (
            cur.join(
                ev_s,
                (cur[key_col] == ev_s["__k"])
                & (F.col("__ts") > F.col(f"t{i - 1}"))
                & (F.col("__ts") <= horizon),
            )
            .drop("__k")
            .groupBy(key_col, *[f"t{j}" for j in range(1, i)])
            .agg(F.min("__ts").alias(f"t{i}"))
        )
    cur = cur.filter(F.col(f"t{k}") <= horizon)
    for g, etype in neg:
        ev_b = events.filter(F.col(type_col) == etype).select(
            F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts")
        )
        gap_lo = F.col("__ts") > F.col(f"t{g}")
        gap_hi = (
            F.col("__ts") < F.col(f"t{g + 1}")
            if g < k
            else F.col("__ts") <= horizon
        )
        cur = cur.join(
            ev_b,
            (cur[key_col] == ev_b["__k"]) & gap_lo & gap_hi,
            "left_anti",
        )
    first_emitted = Window.partitionBy(key_col).orderBy(f"t{k}", "t1")
    return (
        cur.withColumn("__rn", F.row_number().over(first_emitted))
        .filter(F.col("__rn") == 1)
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col(f"t{k}").alias("end_ts"),
            (
                F.unix_micros(F.col(f"t{k}")) - F.unix_micros("t1")
            ).cast("double").alias("duration_us"),
        )
        .withColumn("duration_s", F.round(F.col("duration_us") / 1e6, 6))
        .drop("duration_us")
    )


def cep_not_next(
    events: DataFrame,
    steps: list[str | tuple[str, str]],
    within: str | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Strict-contiguity pattern with NEGATIVE positions — Flink's
    ``Pattern.notNext()``. As in Flink, a negative does NOT consume a
    position: ``("not", B)`` constrains the position the NEXT step
    will occupy (the event there must not be of type B), and a
    TRAILING negative constrains the position after the last positive
    — where a key's stream simply ending also satisfies the
    constraint (no event can't be a B; Flink emits once the window
    closes, batch knows the stream is complete).

    Every match position is reported, like :func:`cep_strict_matches`;
    emits (key, start_ts, end_ts) with end_ts the last POSITIVE
    event's timestamp. Plan: one window sort per key, a conjunction
    of lead() predicates — negatives are null-safe ``IS DISTINCT
    FROM`` conjuncts on the shared position; exactly one shuffle."""
    pos_seen = 0
    offset = 0
    cond: F.Column | None = None
    order = [ts_col] + (order_cols or [])
    w = Window.partitionBy(key_col).orderBy(*order)

    def lead_type(i: int) -> F.Column:
        return F.col(type_col) if i == 0 else F.lead(type_col, i).over(w)

    for s in steps:
        if isinstance(s, str):
            c = lead_type(offset) == s
            offset += 1
            pos_seen += 1
        else:
            tag, etype = s
            if tag != "not":
                raise ValueError(
                    f"negative steps must be ('not', type), got {s!r}"
                )
            if offset == 0:
                raise ValueError(
                    "a pattern cannot begin with a negative step"
                )
            # null-safe: a missing event satisfies the negative
            c = ~lead_type(offset).eqNullSafe(F.lit(etype))
        cond = c if cond is None else cond & c
    if pos_seen < 1 or len(steps) < 2:
        raise ValueError("a CEP pattern needs >= 2 steps, >= 1 positive")
    last_pos = offset - 1
    end_ts = (
        F.col(ts_col) if last_pos == 0 else F.lead(ts_col, last_pos).over(w)
    )
    out = events.select(
        key_col,
        F.col(ts_col).alias("start_ts"),
        end_ts.alias("end_ts"),
        cond.alias("__m"),
    ).filter("__m").drop("__m")
    if within is not None:
        out = out.filter(
            F.col("end_ts") <= F.col("start_ts") + F.expr(f"INTERVAL {within}")
        )
    return out

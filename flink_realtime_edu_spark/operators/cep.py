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
checks, not smoke tests.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.session import materialize

# does an until() stop expression read the event's value? (decides
# whether the valued event identity — NULL-excluded MIN-per-triple —
# applies even without iterative conditions)
_UNTIL_VALUE_REF = re.compile(r"\b__v\b")


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
    max_loop_slots: int = 64,
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

    The aggregates thread through the enumeration as four scalar
    columns per partial — the per-slot state the slot joins already
    carry — so the condition is a plain join conjunct, no Python and
    no array rebuild per slot; restricting conditions to running
    aggregates (not the raw prior-event list) is what keeps the
    oracle exact: the identical expression text evaluates in DuckDB's
    CTE replay, both engines folding values in chain order. The
    pattern's very first event has no prior chain and is never
    conditioned (a value predicate there is Flink's SimpleCondition —
    pre-filter ``events`` instead); a chain reachable under several
    block assignments is valid if ANY assignment satisfies every
    condition, matching the NFA (each branch checks its own
    assignment). Event identity stays the distinct (key, type, ts)
    triple; ``value_col`` resolves per triple as MIN(value) so
    duplicate rows cannot make the condition ambiguous.

    ``consecutive`` (optional, a set of 1-based block indices) applies
    Flink's ``consecutive()`` looping contiguity to those blocks: the
    block's 2nd..nth occurrences must be the key's IMMEDIATELY-next
    events — any intervening event of the key (any type) breaks the
    run, exactly the documented strict-within-loop semantics. The
    relation between the block's first occurrence and the previous
    block stays relaxed (followedBy), as in Flink. Event positions
    come from one per-key rank over the distinct (key, type, ts)
    event set ordered by (ts, type) — the declared same-timestamp
    determinism — threaded through the slot joins like the other
    per-slot state, so a consecutive slot is one extra equality
    conjunct (rank = previous rank + 1); blocks NOT listed default to
    ``allowCombinations()`` (skip-till-any), the enumeration's native
    mode.

    UNBOUNDED LOOPING blocks — Flink's ``oneOrMore()`` /
    ``timesOrMore(m)`` — are ``(type, m, None)``: no declared upper
    bound. Their loop contiguity is Flink's DEFAULT for looping
    patterns, RELAXED: the block consumes a CONTIGUOUS run of the
    key's candidates of its type (events of other types are skipped;
    a same-type candidate is never skipped mid-run), starting at any
    candidate — on input b1 b2 b3, ``b.oneOrMore()`` matches {b1},
    {b1 b2}, {b1 b2 b3}, {b2}, {b2 b3}, {b3}, exactly the documented
    Flink relaxed-loop expansion (allowCombinations' subset expansion
    applies only to FINITE ``times(m,n)`` blocks here, as before).
    Listing an unbounded block in ``consecutive`` tightens its runs
    to strict contiguity as usual. Iterative ``conditions`` are NOT
    supported on unbounded blocks (candidacy must be branch-
    independent for the run encoding; ``until`` is the supported way
    to stop a loop on data) — a condition there raises.

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
    applies (MIN over non-NULL duplicates, NULL-only triples
    excluded) even without ``conditions``.

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

    Plan: one keyed equi-join per SLOT (sum of block maxima), each
    pruned by the ``within`` horizon AT the join — so per-key fanout
    is bounded by events-inside-one-horizon per step, never the key's
    history; optional slots fork via unionByName (stop ∪ extend), a
    plan-width cost only. An UNBOUNDED block's slot count is
    DATA-DEPENDENT, resolved before planning by one scalar aggregate:
    the maximum contiguous-candidate run length inside any single
    ``within`` window (stop events segment the candidate stream
    first, so an effective ``until`` directly shrinks the plan — the
    horizon is the hard backstop, ``until`` the data-dependent
    bound). A resolved bound above ``max_loop_slots`` raises rather
    than silently truncating — the same state explosion an unbounded
    skip-till-any pattern is documented to be in Flink. All loop
    constraints (run contiguity via one per-(key, type) rank,
    stop-gap via one per-key next-stop timestamp, greedy maximality
    via one per-(key, type) lead) thread through the slot joins as
    scalar columns and plain join conjuncts — no Python in the batch
    path. The combinatorial intermediate is the SEMANTICS of
    all-matches enumeration (Flink pays it as NFA branch state); the
    cap bounds the output via one window rank per key. Callers with
    dense keys should bound ``within`` first — exactly as in Flink,
    where an unbounded skip-till-any pattern is a documented state
    explosion."""
    blocks = _normalize_blocks(steps)
    if max_matches_per_key < 1:
        raise ValueError("max_matches_per_key must be >= 1")
    if conditions:
        bad = [b for b in conditions if not 1 <= b <= len(blocks)]
        if bad:
            raise ValueError(
                f"condition block indices {bad} outside [1, {len(blocks)}]"
            )
    if consecutive:
        bad = [b for b in consecutive if not 1 <= b <= len(blocks)]
        if bad:
            raise ValueError(
                f"consecutive block indices {bad} outside [1, {len(blocks)}]"
            )
    unbounded = {i for i, (_, _, mx) in enumerate(blocks, 1) if mx is None}
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
    matches = _enumerate_matches(
        events,
        blocks,
        within,
        key_col,
        ts_col,
        type_col,
        conditions=conditions or None,
        value_col=value_col,
        consecutive=consecutive or None,
        until=until or None,
        greedy=greedy or None,
        max_loop_slots=max_loop_slots,
    )
    w = Window.partitionBy(key_col).orderBy("chain")
    return (
        matches.withColumn("match_no", F.row_number().over(w))
        .filter(F.col("match_no") <= max_matches_per_key)
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col("last").alias("end_ts"),
            F.size("chain").alias("n_events"),
            F.array_join(
                F.transform("chain", lambda x: x.cast("string")), "|"
            ).alias("chain_str"),
            "match_no",
        )
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

    Plan: one slot-walk enumeration per repeat count (n − m + 1 plan
    branches, a plan-width cost like the stop∪extend forks) unioned
    and deduped on (key, chain) — no Python, no new shuffle class;
    each branch keeps the within-pruned keyed-join shape. Unbounded
    blocks inside a group are rejected (an unbounded loop inside a
    repeated group multiplies two data-dependent bounds; Flink's own
    GroupPattern support likewise excludes several modifier
    combinations)."""
    m, n = times
    if not 1 <= m <= n:
        raise ValueError(f"group times needs 1 <= m <= n, got {times}")
    base = _normalize_blocks(group)
    if any(mx is None for _, _, mx in base):
        raise ValueError(
            "unbounded blocks inside a repeated group are not supported"
        )
    if max_matches_per_key < 1:
        raise ValueError("max_matches_per_key must be >= 1")
    matches: DataFrame | None = None
    for r in range(m, n + 1):
        part = _enumerate_matches(
            events, base * r, within, key_col, ts_col, type_col
        )
        matches = part if matches is None else matches.unionByName(part)
    matches = matches.dropDuplicates([key_col, "chain"])
    w = Window.partitionBy(key_col).orderBy("chain")
    return (
        matches.withColumn("match_no", F.row_number().over(w))
        .filter(F.col("match_no") <= max_matches_per_key)
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col("last").alias("end_ts"),
            F.size("chain").alias("n_events"),
            F.array_join(
                F.transform("chain", lambda x: x.cast("string")), "|"
            ).alias("chain_str"),
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


def _enumerate_matches(
    events: DataFrame,
    blocks: list[tuple[str, int, int | None]],
    within: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    anchor_block: int | None = None,
    anchor_kind: str = "first",
    conditions: dict[int, str] | None = None,
    value_col: str = "value",
    consecutive: set[int] | None = None,
    until: dict[int, str] | None = None,
    greedy: set[int] | None = None,
    max_loop_slots: int = 64,
) -> DataFrame:
    """The uncapped distinct-event-set match enumeration shared by
    cep_all_matches and cep_after_match_skip: one within-pruned keyed
    equi-join per slot, stop∪extend unions for optional slots, then
    event-set dedup — columns (key, t1, last, chain) with chain the
    epoch-micros event list in timestamp order.

    ``anchor_block`` (1-based, for the anchored skip strategies) adds
    an ``anchor`` column: the timestamp of the first
    (``anchor_kind="first"``) or last (``"last"``) event the chain
    assigns to that block — NULL when the chain consumes none of it
    (an optional block skipped). A chain reachable under several
    block assignments (adjacent same-type blocks) takes the MINIMUM
    defined anchor across assignments, the declared determinism.

    ``conditions`` (1-based block index -> SQL boolean over ``__v``,
    ``vsum``, ``vcnt``, ``vmin``, ``vmax`` — see cep_all_matches)
    threads the chain's running value aggregates through the slot
    walk and applies each block's predicate as an extra join conjunct
    on every slot of that block (the seed is never conditioned: no
    prior chain exists). ``consecutive`` (1-based block indices — see
    cep_all_matches) threads the last consumed event's per-key RANK
    (row_number over (ts, type) on the distinct event set) and
    requires rank = prev rank + 1 on those blocks' 2nd..nth slots.

    ``until`` / ``greedy`` / unbounded blocks (``mx = None`` — see
    cep_all_matches for the declared semantics) thread three more
    per-event scalars through the slot walk: the per-(key, type)
    candidate rank (``__tr``, run contiguity: rank = prev + 1 on an
    unbounded block's 2nd..nth slots), the first stop timestamp
    strictly after each event (``__nstop{i}``, one per until block —
    consuming at-or-before it is the no-stop-in-gap constraint,
    reset to NULL once the chain consumes past the loop), and the
    next same-type candidate timestamp (``__lead``, greedy blocks —
    the proceed conjunct keeps only maximal runs). An unbounded
    block's slot count resolves FIRST via one scalar aggregate (max
    stop-segmented candidate run per within window) and raises above
    ``max_loop_slots``."""
    valued = bool(conditions) or any(
        _UNTIL_VALUE_REF.search(s) for s in (until or {}).values()
    )
    ranked = bool(consecutive)
    until = until or {}
    greedy = greedy or set()
    unbounded = {i for i, (_, _, mx) in enumerate(blocks, 1) if mx is None}
    # run contiguity via the per-(key, type) candidate rank applies to
    # unbounded blocks unless `consecutive` already pins the stricter
    # all-events contiguity there
    tr_blocks = unbounded - set(consecutive or ())
    if valued:
        # valued-mode event identity EXCLUDES NULL-valued rows (the
        # declared contract shared with the streaming twin, ADVICE
        # r10): MIN over the non-null duplicates resolves the triple's
        # value, and a triple with only NULL values is not a valued
        # event at all — otherwise it would poison vsum downstream in
        # batch while crashing the streaming NFA's float() coercion.
        ev = (
            events.filter(F.col(value_col).isNotNull())
            .groupBy(key_col, type_col, ts_col)
            .agg(F.min(value_col).alias("__v"))
        )
    else:
        ev = events.select(key_col, type_col, ts_col).distinct()
    if ranked:
        ev = ev.withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(ts_col, type_col)
            ),
        )
    for i, stop_sql in until.items():
        ev = ev.withColumn(
            f"__stop{i}",
            F.coalesce(F.expr(stop_sql).cast("boolean"), F.lit(False)),
        )
    if until:
        ev = ev.withColumn("__us", F.unix_micros(ts_col))
        w_after = (
            Window.partitionBy(key_col)
            .orderBy("__us")
            .rangeBetween(1, Window.unboundedFollowing)
        )
        for i in until:
            ev = ev.withColumn(
                f"__nstop{i}",
                F.min(F.when(F.col(f"__stop{i}"), F.col(ts_col))).over(
                    w_after
                ),
            )
        ev = ev.drop("__us")
    if tr_blocks:
        ev = ev.withColumn(
            "__tr",
            F.row_number().over(
                Window.partitionBy(key_col, type_col).orderBy(ts_col)
            ),
        )
    if greedy:
        ev = ev.withColumn(
            "__lead",
            F.lead(ts_col).over(
                Window.partitionBy(key_col, type_col).orderBy(ts_col)
            ),
        )
    # Pin the enriched event set (scan + distinct/value resolution +
    # rank/stop/lead windows) so its one computation feeds the seed,
    # every slot join, and the bound job below: AQE does not
    # stage-reuse duplicated subtrees (measured on 4.1.2 — zero
    # ReusedExchange across all enumeration plan snapshots), so
    # without pinning every slot reference re-scans the events table,
    # a (slots + 2)x multiplier that grows with the pattern. Measured
    # A/B: `git show 1ec3e6b:scripts/cep_ev_reuse_ab.py`.
    ev = materialize(ev)
    # resolve each unbounded block's slot count from the data: the
    # longest contiguous candidate run inside one within-window, the
    # candidate stream segmented at stop events first (one scalar
    # aggregate per unbounded block — the documented bounded collect)
    loop_slots: dict[int, int] = {}
    if unbounded:
        within_us = _parse_within_us(within)
        for i in sorted(unbounded):
            etype, mn, _ = blocks[i - 1]
            ev_b = ev.withColumn("__cus", F.unix_micros(ts_col))
            if i in until:
                # a stop SEGMENTS the candidate stream only when no
                # consumable same-type candidate shares its exact
                # timestamp: a tied candidate lets a run cross (the
                # declared same-ts no-kill rule — the gap conjunct is
                # strict on both ends), so counting tied stops here
                # would UNDERCOUNT the slot bound and silently drop
                # long runs (caught by the property test's fixpoint
                # brute force and the oracle's true recursion)
                w_tie = Window.partitionBy(key_col, "__cus")
                ev_b = ev_b.withColumn(
                    "__brk",
                    F.col(f"__stop{i}")
                    & (
                        F.max(
                            F.when(
                                (F.col(type_col) == etype)
                                & ~F.col(f"__stop{i}"),
                                F.lit(1),
                            ).otherwise(F.lit(0))
                        ).over(w_tie)
                        == 0
                    ),
                )
                w_seg = (
                    Window.partitionBy(key_col)
                    .orderBy("__cus")
                    .rangeBetween(Window.unboundedPreceding, -1)
                )
                ev_b = ev_b.withColumn(
                    "__seg",
                    F.count(F.when(F.col("__brk"), F.lit(1))).over(w_seg),
                )
            else:
                ev_b = ev_b.withColumn("__seg", F.lit(0))
            cand = ev_b.filter(F.col(type_col) == etype)
            if i in until:
                cand = cand.filter(~F.col(f"__stop{i}"))
            w_run = (
                Window.partitionBy(key_col, "__seg")
                .orderBy("__cus")
                .rangeBetween(0, within_us)
            )
            row = (
                cand.select(F.count(F.lit(1)).over(w_run).alias("__rl"))
                .agg(F.max("__rl").alias("b"))
                .first()
            )
            bound = int(row["b"] or 0)
            if bound > max_loop_slots:
                raise ValueError(
                    f"unbounded block {i} ({etype!r}) resolves to runs of "
                    f"up to {bound} candidates inside one '{within}' "
                    f"window (> max_loop_slots={max_loop_slots}); tighten "
                    f"within, add/strengthen until, or raise max_loop_slots"
                )
            loop_slots[i] = max(bound, mn, 1)
    horizon = F.col("t1") + F.expr(f"INTERVAL {within}")
    anchored = anchor_block is not None
    _VAL_COLS = ("vsum", "vcnt", "vmin", "vmax")

    def extend(
        partials: DataFrame,
        b1: int,
        slot: int,
        etype: str,
        in_anchor: bool,
        cond: str | None,
        consec_slot: bool,
    ) -> DataFrame:
        sel = [F.col(key_col).alias("__k"), F.col(ts_col).alias("__ts")]
        if valued:
            sel.append(F.col("__v"))
        if ranked:
            sel.append(F.col("__r"))
        if b1 in tr_blocks:
            sel.append(F.col("__tr"))
        for i in until:
            if b1 == i:
                sel.append(F.col(f"__stop{i}"))
            if b1 <= i:
                sel.append(F.col(f"__nstop{i}"))
        if b1 in greedy:
            sel.append(F.col("__lead"))
        ev_s = ev.filter(F.col(type_col) == etype).select(*sel)
        cols = [
            F.col(key_col),
            F.col("t1"),
            F.col("__ts").alias("last"),
            F.concat(F.col("chain"), F.array(F.unix_micros("__ts"))).alias(
                "chain"
            ),
        ]
        if anchored:
            if not in_anchor:
                cols.append(F.col("anchor"))
            elif anchor_kind == "first":
                cols.append(F.coalesce("anchor", "__ts").alias("anchor"))
            else:
                cols.append(F.col("__ts").alias("anchor"))
        if valued:
            cols += [
                (F.col("vsum") + F.col("__v")).alias("vsum"),
                (F.col("vcnt") + F.lit(1)).alias("vcnt"),
                F.least("vmin", "__v").alias("vmin"),
                F.greatest("vmax", "__v").alias("vmax"),
            ]
        if ranked:
            cols.append(F.col("__r").alias("lastr"))
        # loop-state threading: set while the constraint can still
        # bind, reset to NULL the moment the chain consumes past it
        if tr_blocks:
            cols.append(
                (
                    F.col("__tr")
                    if b1 in tr_blocks
                    else F.lit(None).cast("integer")
                ).alias("lasttr")
            )
        for i in until:
            cols.append(
                (
                    F.col(f"__nstop{i}")
                    if b1 <= i
                    else F.lit(None).cast("timestamp")
                ).alias(f"lastns{i}")
            )
        for g in sorted(greedy):
            cols.append(
                (
                    F.col("__lead")
                    if b1 == g
                    else F.lit(None).cast("timestamp")
                ).alias(f"lastlead{g}")
            )
        on = (
            (partials[key_col] == ev_s["__k"])
            & (F.col("__ts") > F.col("last"))
            & (F.col("__ts") <= horizon)
        )
        if cond is not None:
            on = on & F.expr(cond)
        if consec_slot:
            on = on & (F.col("__r") == F.col("lastr") + 1)
        if b1 in tr_blocks and slot > 1:
            # relaxed-loop run contiguity: never skip a same-type
            # candidate mid-run
            on = on & (F.col("__tr") == F.col("lasttr") + 1)
        for i in until:
            if b1 == i:
                # the loop never consumes a stop event
                on = on & ~F.col(f"__stop{i}")
            if b1 >= i:
                # no stop event strictly inside the gap (<= keeps the
                # declared same-ts tie rule: an equal-ts stop has no
                # order against the consumed event)
                on = on & (
                    F.col(f"lastns{i}").isNull()
                    | (F.col("__ts") <= F.col(f"lastns{i}"))
                )
        for g in sorted(greedy):
            if b1 > g:
                # greedy maximality at proceed: the run's next
                # candidate must not have been consumable
                on = on & (
                    F.col(f"lastlead{g}").isNull()
                    | (F.col(f"lastlead{g}") > horizon)
                    | (F.col(f"lastlead{g}") >= F.col("__ts"))
                )
        return partials.join(ev_s, on).select(*cols)

    first_type = blocks[0][0]
    seed_cols = [
        F.col(key_col),
        F.col(ts_col).alias("t1"),
        F.col(ts_col).alias("last"),
        F.array(F.unix_micros(ts_col)).alias("chain"),
    ]
    if anchored:
        seed_cols.append(
            F.col(ts_col).alias("anchor")
            if anchor_block == 1
            else F.lit(None).cast("timestamp").alias("anchor")
        )
    if valued:
        seed_cols += [
            F.col("__v").alias("vsum"),
            F.lit(1).alias("vcnt"),
            F.col("__v").alias("vmin"),
            F.col("__v").alias("vmax"),
        ]
    if ranked:
        seed_cols.append(F.col("__r").alias("lastr"))
    if tr_blocks:
        seed_cols.append(
            (
                F.col("__tr") if 1 in tr_blocks else F.lit(None).cast("integer")
            ).alias("lasttr")
        )
    for i in until:
        # the seed consumes block 1 <= i, so the next-stop boundary is
        # live from the very first event
        seed_cols.append(F.col(f"__nstop{i}").alias(f"lastns{i}"))
    for g in sorted(greedy):
        seed_cols.append(
            (
                F.col("__lead") if g == 1 else F.lit(None).cast("timestamp")
            ).alias(f"lastlead{g}")
        )
    seed_src = ev.filter(F.col(type_col) == first_type)
    if 1 in until:
        # an unbounded first block's seed is its loop's first take —
        # a stop event is never consumable
        seed_src = seed_src.filter(~F.col("__stop1"))
    cur = seed_src.select(*seed_cols)
    for b, (etype, mn, mx) in enumerate(blocks):
        b1 = b + 1
        in_anchor = anchored and b1 == anchor_block
        cond = (conditions or {}).get(b1)
        consec = ranked and b1 in consecutive
        mx_eff = loop_slots[b1] if mx is None else mx
        stopped: DataFrame | None = None
        for slot in range(1, mx_eff + 1):
            if b == 0 and slot == 1:
                continue  # consumed by the seed projection above
            if slot > mn:
                # the partial may stop taking this block's events here
                stopped = (
                    cur if stopped is None else stopped.unionByName(cur)
                )
            # consecutive binds a block's 2nd..nth occurrences to the
            # key's immediately-next events; the block's FIRST
            # occurrence relates to the previous block relaxedly
            cur = extend(
                cur, b1, slot, etype, in_anchor, cond, consec and slot > 1
            )
        if stopped is not None:
            cur = cur.unionByName(stopped)

    if valued:
        cur = cur.drop(*_VAL_COLS)
    if ranked:
        cur = cur.drop("lastr")
    if tr_blocks:
        cur = cur.drop("lasttr")
    for i in until:
        cur = cur.drop(f"lastns{i}")
    for g in sorted(greedy):
        cur = cur.drop(f"lastlead{g}")
    if not anchored:
        return cur.dropDuplicates([key_col, "chain"])
    # distinct-event-set dedup that keeps the anchor: min over the
    # (rare) multiple block assignments of the same chain; F.min
    # ignores NULLs, so an assignment that skips the block never
    # shadows one that defines the anchor.
    return cur.groupBy(key_col, "chain").agg(
        F.min("t1").alias("t1"),
        F.min("last").alias("last"),
        F.min("anchor").alias("anchor"),
    ).select(key_col, "t1", "last", "chain", "anchor")


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
    r7's ``cep_all_matches`` opened (its NO_SKIP mode):

    - ``"no_skip"``: every distinct event-set chain (delegates to
      ``cep_all_matches``).
    - ``"skip_to_next"``: after a match starting at event e emits,
      every other partial starting at e is discarded — so the kept
      match per (key, start event) is the first-EMITTED one, and
      Flink's NFA emits in COMPLETION order: the chain with the
      earliest last event wins (ties on the end timestamp broken
      chain-lexicographically, a declared determinism Flink leaves
      to NFA internals). Pure window selection: one row_number over
      (key, t1) ordered by (last, chain) — fully declarative, no
      Python.
    - ``"skip_past_last_event"``: after a match emits, every partial
      that started at-or-before its last event is discarded, so
      matching resumes past the match — declared deterministically
      as: walk each key's distinct completion timestamps in order;
      at each, emit every surviving match ending there (start
      strictly after the previously emitted completion timestamp);
      if any emitted, that timestamp becomes the new resume point.
      The walk is an inherently sequential per-key recurrence (the
      keep-set depends on a running maximum over kept rows — not
      window-expressible), so it runs as ONE Arrow-batched
      applyInPandas over the enumeration, grouped by key: per-key
      state is the horizon-and-cap-bounded match list, never the
      key's raw history.
    - ``"skip_to_first"`` / ``"skip_to_last"`` (require ``skip_block``,
      the 1-based index of the pattern element Flink's
      ``skipToFirst("p")`` / ``skipToLast("p")`` name): after a match
      emits, every partial that started AFTER the match's own start
      but BEFORE the first/last event the match assigned to that
      block is discarded — partials started before the match's start
      survive (Flink's documented interval, narrower than
      skip_past_last's). Declared deterministically as a
      completion-order walk accumulating half-open DISCARD INTERVALS
      ``[match_start, anchor)`` from each kept match (same-end ties
      emit together before their intervals apply, as in the NFA); a
      chain that assigns no event to the block — an optional block
      skipped — contributes no interval, and a chain reachable under
      several block assignments anchors at the minimum defined
      timestamp. The walk's keep-set depends on the running interval
      union, so like skip_past_last it runs as ONE Arrow-batched
      applyInPandas over the bounded match list. ``skip_to_first`` of
      block 1 anchors every match at its own start — an empty
      interval, i.e. NO_SKIP (the degenerate case Flink rejects at
      pattern-compile time; benign here).

    Output schema matches ``cep_all_matches``: (key, start_ts,
    end_ts, n_events, chain_str, match_no) with match_no the
    chain-lexicographic rank among KEPT matches, capped at
    ``max_matches_per_key``. The DuckDB oracle replays no_skip /
    skip_to_next as window SQL and the three walk strategies as
    recursive CTEs over the identical enumeration (queries/cep.py —
    skip_to_first/skip_to_last thread the interval list through the
    recursion), so all five strategies carry exact value checks."""
    strategies = (
        "no_skip",
        "skip_to_next",
        "skip_past_last_event",
        "skip_to_first",
        "skip_to_last",
    )
    if strategy not in strategies:
        raise ValueError(f"strategy must be one of {strategies}")
    anchored = strategy in ("skip_to_first", "skip_to_last")
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
    blocks = _normalize_blocks(steps)
    if any(mx is None for _, _, mx in blocks):
        raise ValueError(
            "unbounded looping blocks (oneOrMore/timesOrMore) are "
            "supported through cep_all_matches (the no_skip strategy) "
            "only; pass a finite times(m, n) here"
        )
    if max_matches_per_key < 1:
        raise ValueError("max_matches_per_key must be >= 1")
    if anchored:
        if skip_block is None or not 1 <= skip_block <= len(blocks):
            raise ValueError(
                "skip_to_first/skip_to_last need skip_block in "
                f"[1, {len(blocks)}], got {skip_block!r}"
            )
    elif skip_block is not None:
        raise ValueError(f"{strategy} does not take skip_block")
    matches = _enumerate_matches(
        events,
        blocks,
        within,
        key_col,
        ts_col,
        type_col,
        anchor_block=skip_block if anchored else None,
        anchor_kind="first" if strategy == "skip_to_first" else "last",
    )

    if strategy == "skip_to_next":
        # completion order first (Flink emits the earliest-ENDING
        # chain from a start, e.g. (t1,4,5) beats (t1,2,9)), chain as
        # the declared tie-break for same-end enumerations
        per_start = Window.partitionBy(key_col, "t1").orderBy("last", "chain")
        kept = (
            matches.withColumn("__sr", F.row_number().over(per_start))
            .filter(F.col("__sr") == 1)
            .drop("__sr")
        )
    elif anchored:  # skip_to_first / skip_to_last
        import pandas as pd

        def interval_walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
            # completion-order walk accumulating discard intervals
            # [match_start, anchor) from kept matches; same-end ties
            # are judged against the intervals in force when their
            # end's batch opened, then contribute their own
            rows = sorted(
                range(len(pdf)),
                key=lambda i: (
                    pdf["last"].iloc[i],
                    tuple(pdf["chain"].iloc[i]),
                ),
            )
            keep: list[int] = []
            intervals: list[tuple] = []  # half-open [lo, hi)
            i = 0
            while i < len(rows):
                end = pdf["last"].iloc[rows[i]]
                batch = []
                while i < len(rows) and pdf["last"].iloc[rows[i]] == end:
                    r = rows[i]
                    t1 = pdf["t1"].iloc[r]
                    if not any(lo <= t1 < hi for lo, hi in intervals):
                        batch.append(r)
                    i += 1
                for r in batch:
                    keep.append(r)
                    a = pdf["anchor"].iloc[r]
                    if not pd.isna(a) and a > pdf["t1"].iloc[r]:
                        intervals.append((pdf["t1"].iloc[r], a))
            return pdf.iloc[keep]

        kept = matches.groupBy(key_col).applyInPandas(
            interval_walk, schema=matches.schema
        ).drop("anchor")
    else:  # skip_past_last_event
        import pandas as pd

        def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
            # completion-order walk; chains tie-break equal ends
            rows = sorted(
                range(len(pdf)),
                key=lambda i: (
                    pdf["last"].iloc[i],
                    tuple(pdf["chain"].iloc[i]),
                ),
            )
            keep: list[int] = []
            resume = None  # end ts of the last emitted batch
            i = 0
            while i < len(rows):
                end = pdf["last"].iloc[rows[i]]
                batch = []
                while i < len(rows) and pdf["last"].iloc[rows[i]] == end:
                    if resume is None or pdf["t1"].iloc[rows[i]] > resume:
                        batch.append(rows[i])
                    i += 1
                if batch:
                    keep.extend(batch)
                    resume = end
            return pdf.iloc[keep]

        kept = matches.groupBy(key_col).applyInPandas(
            greedy, schema=matches.schema
        )

    w = Window.partitionBy(key_col).orderBy("chain")
    return (
        kept.withColumn("match_no", F.row_number().over(w))
        .filter(F.col("match_no") <= max_matches_per_key)
        .select(
            key_col,
            F.col("t1").alias("start_ts"),
            F.col("last").alias("end_ts"),
            F.size("chain").alias("n_events"),
            F.array_join(
                F.transform("chain", lambda x: x.cast("string")), "|"
            ).alias("chain_str"),
            "match_no",
        )
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

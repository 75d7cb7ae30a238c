"""CEP pattern queries — driver-checkable faces of operators/cep.py
(SURVEY.md §2 exhaustiveness note: Flink CEP re-expression, now via
a GENERIC k-step operator instead of hand-written funnels).

The oracle SQL is generated from the same step list the operator
receives, so widening a pattern changes both sides in lockstep —
the chained min-after CTEs replay ``cep_first_match`` and the
lead-conjunction window replays ``cep_strict_matches`` exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from flink_realtime_edu_spark.operators.cep import (
    cep_after_match_skip,
    cep_all_matches,
    cep_first_match,
    cep_group_times,
    cep_not_followed_by,
    cep_not_next,
    cep_strict_matches,
    cep_timed_out,
    cep_times,
)
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load

_FUNNEL_STEPS = ["view", "click", "purchase", "purchase"]
_FUNNEL_WITHIN = "96 hours"
_STRICT_STEPS = ["error", "error", "error"]
_TIMEOUT_WITHIN = "2 hours"  # short horizon so plenty of chains stall


def _relaxed_oracle(steps: list[str], within_sql: str) -> str:
    parts = [
        f"""WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{steps[0]}' GROUP BY user_id
)"""
    ]
    for i, s in enumerate(steps[1:], start=2):
        prev_cols = ", ".join(f"t{j}" for j in range(1, i))
        parts.append(
            f""", s{i} AS (
  SELECT e.user_id, {prev_cols}, MIN(e.ts) AS t{i}
  FROM events e JOIN s{i - 1} p
    ON e.user_id = p.user_id AND e.ts > p.t{i - 1}
  WHERE e.event_type = '{s}'
  GROUP BY e.user_id, {prev_cols}
)"""
        )
    k = len(steps)
    return "".join(parts) + f"""
SELECT user_id, t1 AS start_ts, t{k} AS end_ts,
       ROUND((epoch_us(t{k}) - epoch_us(t1)) / 1e6, 6) AS duration_s
FROM s{k} WHERE t{k} <= t1 + INTERVAL {within_sql}
"""


def _strict_oracle(steps: list[str]) -> str:
    k = len(steps)
    leads = ", ".join(
        f"lead(event_type, {i}) OVER w AS n{i}" for i in range(1, k)
    )
    conds = " AND ".join(
        [f"event_type = '{steps[0]}'"]
        + [f"n{i} = '{s}'" for i, s in enumerate(steps[1:], start=1)]
    )
    return f"""
SELECT user_id, ts AS start_ts, lk AS end_ts FROM (
  SELECT user_id, ts, event_type, {leads},
         lead(ts, {k - 1}) OVER w AS lk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) WHERE {conds}
"""


def _timeout_oracle(steps: list[str], within_sql: str) -> str:
    """Left-join chained CTEs replaying cep_timed_out: the greedy
    chain with stalls kept as NULLs, cut at the per-key horizon."""
    k = len(steps)
    parts = [
        f"""WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{steps[0]}' GROUP BY user_id
)"""
    ]
    for i, s in enumerate(steps[1:], start=2):
        prev_cols = ", ".join(f"p.t{j}" for j in range(1, i))
        parts.append(
            f""", s{i} AS (
  SELECT p.user_id, {prev_cols}, MIN(e.ts) AS t{i}
  FROM s{i - 1} p LEFT JOIN events e
    ON e.user_id = p.user_id AND e.ts > p.t{i - 1}
   AND e.event_type = '{s}'
  GROUP BY p.user_id, {prev_cols}
)"""
        )
    horizon = f"t1 + INTERVAL {within_sql}"
    matched = " + ".join(
        ["1"]
        + [
            f"COALESCE(CAST(t{i} <= {horizon} AS INT), 0)"
            for i in range(2, k + 1)
        ]
    )
    last_ts = "CASE " + " ".join(
        f"WHEN matched >= {i} THEN t{i}" for i in range(k, 1, -1)
    ) + " ELSE t1 END"
    awaiting = "CASE matched " + " ".join(
        f"WHEN {i} THEN '{steps[i]}'" for i in range(1, k)
    ) + " END"
    return "".join(parts) + f"""
SELECT user_id, t1 AS start_ts, {horizon} AS horizon_ts,
       matched AS matched_steps, {last_ts} AS last_matched_ts,
       {awaiting} AS awaiting
FROM (SELECT *, {matched} AS matched FROM s{k})
WHERE matched < {k}
"""


def _times_oracle(blocks: list[tuple[str, int]], within_sql: str) -> str:
    """Replay cep_times: per block, dense_rank over the key's events
    of that type (after the previous block's last timestamp), then a
    conditional-min pivot of ranks 1..m — the earliest
    strictly-increasing chain, block-natively."""
    parts = []
    base = 0
    for i, (s, m) in enumerate(blocks, start=1):
        mins = ",\n         ".join(
            f"MIN(CASE WHEN dr = {j} THEN u END) AS t{base + j}"
            for j in range(1, m + 1)
        )
        prev_cols = ", ".join(f"t{j}" for j in range(1, base + 1))
        keep = ("user_id, " + prev_cols) if prev_cols else "user_id"
        if i == 1:
            parts.append(
                f"""WITH b1 AS (
  SELECT user_id, ts AS u,
         DENSE_RANK() OVER (PARTITION BY user_id ORDER BY ts) AS dr
  FROM events WHERE event_type = '{s}'
), s1 AS (
  SELECT user_id, {mins}
  FROM b1 WHERE dr <= {m} GROUP BY user_id
  HAVING MIN(CASE WHEN dr = {m} THEN u END) IS NOT NULL
)"""
            )
        else:
            parts.append(
                f""", b{i} AS (
  SELECT p.*, e.ts AS u,
         DENSE_RANK() OVER (PARTITION BY p.user_id ORDER BY e.ts) AS dr
  FROM s{i - 1} p JOIN events e
    ON e.user_id = p.user_id AND e.ts > p.t{base}
  WHERE e.event_type = '{s}'
), s{i} AS (
  SELECT {keep}, {mins}
  FROM b{i} WHERE dr <= {m} GROUP BY {keep}
  HAVING MIN(CASE WHEN dr = {m} THEN u END) IS NOT NULL
)"""
            )
        base += m
    return "".join(parts) + f"""
SELECT user_id, t1 AS start_ts, t{base} AS end_ts,
       ROUND((epoch_us(t{base}) - epoch_us(t1)) / 1e6, 6) AS duration_s
FROM s{len(blocks)} WHERE t{base} <= t1 + INTERVAL {within_sql}
"""


def _enumeration_prefix(
    blocks: list[tuple[str, int, int | None]],
    within_sql: str,
    recursive: bool,
    anchor_block: int | None = None,
    anchor_kind: str = "first",
    conditions: dict[int, str] | None = None,
    consecutive: set[int] | None = None,
    until: dict[int, str] | None = None,
    greedy: set[int] | None = None,
) -> str:
    """The shared enumeration oracle behind all skip strategies: the
    all-matches semantics spelled slot by slot as chained CTEs — one
    extension CTE per slot (within-pruned at the join), stop∪extend
    merge CTEs where a slot is optional, then distinct-chain dedup
    into a final CTE named ``dedup``. It shares no code with the
    operators' NFA (streaming/cep.py::_make_am_nfa), which makes it
    an independent check of that automaton. CTEs are
    MATERIALIZED — DuckDB inlines plain CTEs per reference, and the
    stop/extend forks reference each CTE twice (the r5 BPE lesson).
    ``recursive=True`` opens with WITH RECURSIVE so a caller can
    append a recursive selection CTE (the walk strategies).
    ``anchor_block`` threads the first/last event timestamp of that
    block through the slots (NULL when the block consumed nothing;
    MIN over duplicate block assignments of the same chain).
    ``conditions`` replays the ITERATIVE CONDITIONS: the
    per-(key, type, ts) MIN(value) joins each slot, the running
    vsum/vcnt/vmin/vmax aggregates thread through the CTEs in chain
    order (the identical left-to-right double arithmetic), and each
    block's predicate — the very expression string the operator got,
    rewritten over e.v / p.vsum / ... — filters its slots' joins.
    ``consecutive`` replays the looping-contiguity constraint: a
    per-key (ts, type) row_number rank, rank = prev + 1 on the
    listed blocks' 2nd..nth slots.

    UNBOUNDED blocks (``mx = None``) replay as one RECURSIVE CTE
    instead of unrolled slots — SQL recurses to a true fixpoint (the
    within horizon terminates it), as the NFA loops as long as the
    data does. ``until`` / ``greedy`` replay as per-event scalars (tr
    / stop / nstop / lead window columns on the event CTE) and join
    conjuncts on the recursion."""
    horizon = f"p.t1 + INTERVAL {within_sql}"
    anchored = anchor_block is not None
    until = until or {}
    greedy = greedy or set()
    unbounded = {i for i, (_, _, mx) in enumerate(blocks, 1) if mx is None}
    tr_blocks = unbounded - set(consecutive or ())
    valued = bool(conditions) or any(
        re.search(r"\b__v\b", s) for s in until.values()
    )
    ranked = bool(consecutive)
    with_kw = "WITH RECURSIVE" if recursive or unbounded else "WITH"
    if valued:
        ev_sql = """SELECT user_id, event_type, ts, MIN(value) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, event_type, ts"""
    else:
        ev_sql = "SELECT DISTINCT user_id, event_type, ts FROM events"
    if ranked:
        ev_sql = f"""SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts, event_type) AS r
  FROM ({ev_sql})"""
    ev_extra = []
    if tr_blocks:
        ev_extra.append(
            "ROW_NUMBER() OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts) AS tr"
        )
    for i, stop_sql in sorted(until.items()):
        stop_expr = re.sub(r"\b__v\b", "v", stop_sql)
        ev_extra.append(f"COALESCE(({stop_expr}), FALSE) AS stop{i}")
    if greedy:
        ev_extra.append(
            "LEAD(ts) OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts) AS lead"
        )
    if ev_extra:
        ev_sql = f"SELECT *, {', '.join(ev_extra)}\n  FROM ({ev_sql})"
    if until:
        # first stop STRICTLY after each event (integer RANGE frame on
        # epoch micros keeps same-ts stops out, the declared tie rule)
        nstops = ", ".join(
            f"MIN(CASE WHEN stop{i} THEN ts END) OVER ("
            f"PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN"
            f" 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nstop{i}"
            for i in sorted(until)
        )
        ev_sql = f"SELECT *, {nstops}\n  FROM ({ev_sql})"

    # the ordered threading-column list every chain CTE carries
    cols = ["user_id", "t1", "last", "chain"]
    if anchored:
        cols.append("anchor")
    if valued:
        cols += ["vsum", "vcnt", "vmin", "vmax"]
    if ranked:
        cols.append("lastr")
    if tr_blocks:
        cols.append("lasttr")
    for i in sorted(until):
        cols.append(f"lastns{i}")
    for g in sorted(greedy):
        cols.append(f"lastlead{g}")

    seed_anchor = (
        ", ts AS anchor"
        if anchored and anchor_block == 1
        else ", CAST(NULL AS TIMESTAMP) AS anchor"
        if anchored
        else ""
    )
    seed_vals = ", v AS vsum, 1 AS vcnt, v AS vmin, v AS vmax" if valued else ""
    seed_rank = ", r AS lastr" if ranked else ""
    seed_extra = ""
    if tr_blocks:
        seed_extra += (
            ", tr AS lasttr" if 1 in tr_blocks
            else ", CAST(NULL AS INTEGER) AS lasttr"
        )
    for i in sorted(until):
        seed_extra += f", nstop{i} AS lastns{i}"
    for g in sorted(greedy):
        seed_extra += (
            f", lead AS lastlead{g}" if g == 1
            else f", CAST(NULL AS TIMESTAMP) AS lastlead{g}"
        )
    seed_filter = " AND NOT stop1" if 1 in until else ""
    parts = [
        f"""{with_kw} ev AS MATERIALIZED (
  {ev_sql}
)""",
        f""", c1 AS MATERIALIZED (
  SELECT user_id, ts AS t1, ts AS last, [epoch_us(ts)] AS chain{seed_anchor}{seed_vals}{seed_rank}{seed_extra}
  FROM ev WHERE event_type = '{blocks[0][0]}'{seed_filter}
)""",
    ]
    n_cte = 1

    def cond_sql(cond: str) -> str:
        # word-boundary rewrites (ADVICE r9): naive str.replace would
        # corrupt conditions embedding these names inside longer
        # identifiers or literals
        cond = re.sub(r"\b(vsum|vcnt|vmin|vmax)\b", r"p.\1", cond)
        return re.sub(r"\b__v\b", "e.v", cond)

    def ext_parts(
        b1: int,
        slot: int,
        etype: str,
        in_anchor: bool,
        cond: str | None,
        consec_slot: bool,
    ) -> tuple[str, str]:
        """(select-expressions, extra WHERE conjuncts) for one
        consumption of block ``b1`` at ``slot`` — shared by the
        unrolled slot CTEs and the recursive arm."""
        if not anchored:
            anchor_sql = ""
        elif not in_anchor:
            anchor_sql = ", p.anchor AS anchor"
        elif anchor_kind == "first":
            anchor_sql = ", COALESCE(p.anchor, e.ts) AS anchor"
        else:
            anchor_sql = ", e.ts AS anchor"
        vals_sql = (
            ",\n         p.vsum + e.v AS vsum, p.vcnt + 1 AS vcnt,"
            " LEAST(p.vmin, e.v) AS vmin, GREATEST(p.vmax, e.v) AS vmax"
            if valued
            else ""
        )
        rank_sql = ", e.r AS lastr" if ranked else ""
        thread_sql = ""
        if tr_blocks:
            thread_sql += (
                ", e.tr AS lasttr" if b1 in tr_blocks
                else ", CAST(NULL AS INTEGER) AS lasttr"
            )
        for i in sorted(until):
            thread_sql += (
                f", e.nstop{i} AS lastns{i}" if b1 <= i
                else f", CAST(NULL AS TIMESTAMP) AS lastns{i}"
            )
        for g in sorted(greedy):
            thread_sql += (
                f", e.lead AS lastlead{g}" if b1 == g
                else f", CAST(NULL AS TIMESTAMP) AS lastlead{g}"
            )
        conj = []
        if cond is not None:
            conj.append(cond_sql(cond))
        if consec_slot:
            conj.append("e.r = p.lastr + 1")
        if b1 in tr_blocks and slot > 1:
            conj.append("e.tr = p.lasttr + 1")
        for i in sorted(until):
            if b1 == i:
                conj.append(f"NOT e.stop{i}")
            if b1 >= i:
                conj.append(
                    f"(p.lastns{i} IS NULL OR e.ts <= p.lastns{i})"
                )
        for g in sorted(greedy):
            if b1 > g:
                conj.append(
                    f"(p.lastlead{g} IS NULL OR p.lastlead{g} > {horizon}"
                    f" OR p.lastlead{g} >= e.ts)"
                )
        select_sql = (
            f"p.user_id, p.t1, e.ts AS last,\n"
            f"         list_append(p.chain, epoch_us(e.ts)) AS chain"
            f"{anchor_sql}{vals_sql}{rank_sql}{thread_sql}"
        )
        where_sql = "".join(f"\n   AND {c}" for c in conj)
        return select_sql, where_sql

    def extend(
        src: str,
        b1: int,
        slot: int,
        etype: str,
        in_anchor: bool,
        cond: str | None,
        consec_slot: bool,
    ) -> str:
        nonlocal n_cte
        n_cte += 1
        select_sql, where_sql = ext_parts(
            b1, slot, etype, in_anchor, cond, consec_slot
        )
        parts.append(
            f""", c{n_cte} AS MATERIALIZED (
  SELECT {select_sql}
  FROM {src} p JOIN ev e
    ON e.user_id = p.user_id AND e.event_type = '{etype}'
   AND e.ts > p.last AND e.ts <= {horizon}{where_sql}
)"""
        )
        return f"c{n_cte}"

    cur = "c1"
    for b, (etype, mn, mx) in enumerate(blocks):
        b1 = b + 1
        in_anchor = anchored and b1 == anchor_block
        cond = (conditions or {}).get(b1)
        consec = ranked and b1 in (consecutive or set())
        if mx is None:
            # recursive replay of the unbounded loop: base = first
            # take (the seed when the loop is block 1), arm = one more
            # contiguous take; partials with taken >= mn may leave
            col_sql = ", ".join(cols)
            if b1 == 1:
                base = f"SELECT {col_sql}, 1 AS taken FROM c1"
            else:
                entry = extend(cur, b1, 1, etype, in_anchor, cond, False)
                base = f"SELECT {col_sql}, 1 AS taken FROM {entry}"
            select_sql, where_sql = ext_parts(
                b1, 2, etype, in_anchor, cond, consec
            )
            parts.append(
                f""", r{b1} AS (
  {base}
  UNION ALL
  SELECT {select_sql}, p.taken + 1 AS taken
  FROM r{b1} p JOIN ev e
    ON e.user_id = p.user_id AND e.event_type = '{etype}'
   AND e.ts > p.last AND e.ts <= {horizon}{where_sql}
)"""
            )
            n_cte += 1
            skip_sql = (
                f"\n  UNION ALL SELECT {col_sql} FROM {cur}" if mn == 0 else ""
            )
            parts.append(
                f""", c{n_cte} AS MATERIALIZED (
  SELECT {col_sql} FROM r{b1} WHERE taken >= {max(mn, 1)}{skip_sql}
)"""
            )
            cur = f"c{n_cte}"
            continue
        stopped: list[str] = []
        for slot in range(1, mx + 1):
            if b == 0 and slot == 1:
                continue  # the c1 seed
            if slot > mn:
                stopped.append(cur)
            cur = extend(
                cur, b1, slot, etype, in_anchor, cond, consec and slot > 1
            )
        if stopped:
            n_cte += 1
            union = "\n  UNION ALL ".join(
                f"SELECT * FROM {s}" for s in [cur, *stopped]
            )
            parts.append(f", c{n_cte} AS MATERIALIZED (\n  {union}\n)")
            cur = f"c{n_cte}"
    if not anchored:
        return "".join(parts) + (
            f"\n, dedup AS MATERIALIZED ("
            f"SELECT DISTINCT user_id, t1, last, chain FROM {cur})"
        )
    return "".join(parts) + (
        f"\n, dedup AS MATERIALIZED ("
        f"SELECT user_id, MIN(t1) AS t1, MIN(last) AS last, chain,"
        f" MIN(anchor) AS anchor FROM {cur} GROUP BY user_id, chain)"
    )


# Projection + per-key lexicographic rank/cap shared by every skip
# strategy's oracle; {src} is a CTE with (user_id, t1, last, chain).
_MATCH_PROJECTION = """
SELECT user_id, t1 AS start_ts, last AS end_ts,
       CAST(len(chain) AS INT) AS n_events,
       array_to_string(chain, '|') AS chain_str,
       CAST(rn AS INT) AS match_no
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY chain) AS rn
  FROM {src}
) WHERE rn <= {cap}
"""


def _all_matches_oracle(
    blocks: list[tuple[str, int, int]], within_sql: str, cap: int
) -> str:
    return _enumeration_prefix(
        blocks, within_sql, recursive=False
    ) + _MATCH_PROJECTION.format(src="dedup", cap=cap)


def _iterative_oracle(
    blocks: list[tuple[str, int, int]],
    within_sql: str,
    cap: int,
    conditions: dict[int, str],
) -> str:
    return _enumeration_prefix(
        blocks, within_sql, recursive=False, conditions=conditions
    ) + _MATCH_PROJECTION.format(src="dedup", cap=cap)


def _consecutive_oracle(
    blocks: list[tuple[str, int, int]],
    within_sql: str,
    cap: int,
    consecutive: set[int],
) -> str:
    return _enumeration_prefix(
        blocks, within_sql, recursive=False, consecutive=consecutive
    ) + _MATCH_PROJECTION.format(src="dedup", cap=cap)


def _until_oracle(
    blocks: list[tuple[str, int, int | None]],
    within_sql: str,
    cap: int,
    until: dict[int, str],
    greedy: set[int] | None = None,
) -> str:
    """Unbounded-loop oracle: the loop replays as a true RECURSIVE
    CTE (no slot bound, like the NFA it checks)."""
    return _enumeration_prefix(
        blocks, within_sql, recursive=False, until=until, greedy=greedy
    ) + _MATCH_PROJECTION.format(src="dedup", cap=cap)


def _greedy_oracle(
    blocks: list[tuple[str, int, int | None]],
    within_sql: str,
    cap: int,
    greedy: set[int],
) -> str:
    return _enumeration_prefix(
        blocks, within_sql, recursive=False, greedy=greedy
    ) + _MATCH_PROJECTION.format(src="dedup", cap=cap)


def _group_times_oracle(
    group: list[tuple[str, int, int]],
    m: int,
    n: int,
    within_sql: str,
    cap: int,
) -> str:
    """Pattern-GROUP replay: one full enumeration subquery per repeat
    count (WITH-in-subquery keeps each branch's CTE namespace local),
    distinct (key, event set) across the union — the operator's
    declared composition."""
    branches = " UNION ALL ".join(
        f"""(
{_enumeration_prefix(list(group) * r, within_sql, recursive=False)}
SELECT user_id, t1, last, chain FROM dedup
)"""
        for r in range(m, n + 1)
    )
    return (
        f"WITH grp AS (SELECT DISTINCT user_id, t1, last, chain FROM ("
        f"{branches}))"
        + _MATCH_PROJECTION.format(src="grp", cap=cap)
    )


def _skip_to_next_oracle(
    blocks: list[tuple[str, int, int]], within_sql: str, cap: int
) -> str:
    """skip_to_next = the first-EMITTED chain per (key, start event):
    Flink's NFA emits in completion order, so the earliest-ending
    chain wins (end ties broken chain-lexicographically) — one extra
    window pass over the enumeration."""
    return _enumeration_prefix(blocks, within_sql, recursive=False) + (
        """
, kept AS (
  SELECT user_id, t1, last, chain FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, t1 ORDER BY last, chain) AS sr
    FROM dedup
  ) WHERE sr = 1
)"""
        + _MATCH_PROJECTION.format(src="kept", cap=cap)
    )


def _skip_past_last_oracle(
    blocks: list[tuple[str, int, int]], within_sql: str, cap: int
) -> str:
    """skip_past_last_event as a RECURSIVE CTE: sel walks each key's
    kept completion timestamps (each iteration advances every key's
    frontier to the next completion among matches starting strictly
    after the current resume point); kept joins back each batch,
    keeping same-end ties that started after the previous resume
    point — exactly the operator's declared completion-order walk."""
    return _enumeration_prefix(blocks, within_sql, recursive=True) + (
        """
, sel AS (
  SELECT user_id, CAST(NULL AS TIMESTAMP) AS prev_end,
         MIN(last) AS kept_end
  FROM dedup GROUP BY user_id
  UNION ALL
  SELECT s.user_id, s.kept_end,
         (SELECT MIN(d.last) FROM dedup d
           WHERE d.user_id = s.user_id AND d.t1 > s.kept_end)
  FROM sel s
  WHERE EXISTS (SELECT 1 FROM dedup d
                 WHERE d.user_id = s.user_id AND d.t1 > s.kept_end)
), kept AS (
  SELECT d.user_id, d.t1, d.last, d.chain
  FROM dedup d JOIN sel s
    ON d.user_id = s.user_id AND d.last = s.kept_end
  WHERE s.prev_end IS NULL OR d.t1 > s.prev_end
)"""
        + _MATCH_PROJECTION.format(src="kept", cap=cap)
    )


def _skip_to_anchor_oracle(
    blocks: list[tuple[str, int, int]],
    within_sql: str,
    cap: int,
    skip_block: int,
    kind: str,
) -> str:
    """skip_to_first / skip_to_last as a RECURSIVE CTE: sel walks each
    key's completion timestamps threading the LIST of discard
    intervals [match_start, anchor) accumulated from kept matches;
    a match is kept iff its start avoids every interval in force when
    its end's batch opened — exactly the operator's declared
    interval walk (anchor = first/last event of the named block,
    NULL-anchored chains contribute no interval)."""
    return _enumeration_prefix(
        blocks,
        within_sql,
        recursive=True,
        anchor_block=skip_block,
        anchor_kind=kind,
    ) + (
        """
, sel AS (
  SELECT user_id, MIN(last) AS cur_end,
         CAST([] AS STRUCT(lo TIMESTAMP, hi TIMESTAMP)[]) AS ivls
  FROM dedup GROUP BY user_id
  UNION ALL
  SELECT s.user_id,
         (SELECT MIN(d.last) FROM dedup d
           WHERE d.user_id = s.user_id AND d.last > s.cur_end),
         s.ivls || COALESCE(
           (SELECT list({'lo': d.t1, 'hi': d.anchor})
              FROM dedup d
             WHERE d.user_id = s.user_id AND d.last = s.cur_end
               AND d.anchor IS NOT NULL AND d.anchor > d.t1
               AND len(list_filter(s.ivls,
                     iv -> d.t1 >= iv.lo AND d.t1 < iv.hi)) = 0),
           [])
  FROM sel s
  WHERE EXISTS (SELECT 1 FROM dedup d
                 WHERE d.user_id = s.user_id AND d.last > s.cur_end)
), kept AS (
  SELECT d.user_id, d.t1, d.last, d.chain
  FROM dedup d JOIN sel s
    ON d.user_id = s.user_id AND d.last = s.cur_end
  WHERE len(list_filter(s.ivls,
          iv -> d.t1 >= iv.lo AND d.t1 < iv.hi)) = 0
)"""
        + _MATCH_PROJECTION.format(src="kept", cap=cap)
    )


def _negative_oracle(
    steps: list[str | tuple[str, str]], within_sql: str
) -> str:
    """Replay cep_not_followed_by (r8 Flink-faithful semantics): a
    partial per occurrence of the first positive type — per-start
    greedy chain CTEs grouped by (user_id, t1), horizon-pruned at each
    join — plus one NOT EXISTS per negative (gap negatives open
    (t_g, t_{g+1}), a tail negative closes at the horizon
    (t_k, t1 + within]), then the first VALID chain per key in
    completion order (end ties toward the earliest start)."""
    pos = [s for s in steps if isinstance(s, str)]
    neg: list[tuple[int, str]] = []
    n_pos = 0
    for s in steps:
        if isinstance(s, str):
            n_pos += 1
        else:
            neg.append((n_pos, s[1]))
    k = len(pos)
    parts = [
        f"""WITH s1 AS (
  SELECT DISTINCT user_id, ts AS t1 FROM events
  WHERE event_type = '{pos[0]}'
)"""
    ]
    for i, s in enumerate(pos[1:], start=2):
        prev_cols = ", ".join(f"p.t{j}" for j in range(1, i))
        parts.append(
            f""", s{i} AS (
  SELECT p.user_id, {prev_cols}, MIN(e.ts) AS t{i}
  FROM events e JOIN s{i - 1} p
    ON e.user_id = p.user_id AND e.ts > p.t{i - 1}
   AND e.ts <= p.t1 + INTERVAL {within_sql}
  WHERE e.event_type = '{s}'
  GROUP BY p.user_id, {prev_cols}
)"""
        )
    horizon = f"s.t1 + INTERVAL {within_sql}"
    negs = []
    for g, etype in neg:
        hi = f"b.ts < s.t{g + 1}" if g < k else f"b.ts <= {horizon}"
        negs.append(
            f"""    AND NOT EXISTS (
      SELECT 1 FROM events b
      WHERE b.user_id = s.user_id AND b.event_type = '{etype}'
        AND b.ts > s.t{g} AND {hi}
    )"""
        )
    return "".join(parts) + f"""
, valid AS (
  SELECT s.* FROM s{k} s
  WHERE s.t{k} <= {horizon}
{chr(10).join(negs)}
)
SELECT user_id, t1 AS start_ts, t{k} AS end_ts,
       ROUND((epoch_us(t{k}) - epoch_us(t1)) / 1e6, 6) AS duration_s
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY t{k}, t1) AS rn
  FROM valid
) WHERE rn = 1
"""


def _not_next_oracle(steps: list[str | tuple[str, str]]) -> str:
    """Replay cep_not_next: lead-conjunction window SQL where a
    negative shares its position with the following step via an
    IS DISTINCT FROM conjunct (NULL — stream ended — satisfies it)."""
    conds: list[str] = []
    offset = 0
    for s in steps:
        ref = "event_type" if offset == 0 else f"n{offset}"
        if isinstance(s, str):
            conds.append(f"{ref} = '{s}'")
            offset += 1
        else:
            conds.append(f"{ref} IS DISTINCT FROM '{s[1]}'")
    k = offset  # positives consumed
    leads = ", ".join(
        f"lead(event_type, {i}) OVER w AS n{i}" for i in range(1, k + 1)
    )
    end = "ts" if k == 1 else f"lead(ts, {k - 1}) OVER w"
    return f"""
SELECT user_id, ts AS start_ts, lk AS end_ts FROM (
  SELECT user_id, ts, event_type, {leads}, {end} AS lk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) WHERE {" AND ".join(conds)}
"""


_TIMES_BLOCKS = [("click", 3), ("purchase", 1)]
_TIMES_WITHIN = "96 hours"
_ALL_BLOCKS: list[tuple[str, int, int]] = [
    ("click", 1, 2),   # times(1, 2) — a RANGE quantifier
    ("view", 0, 1),    # optional()
    ("purchase", 1, 1),
]
_ALL_WITHIN = "6 hours"
_ALL_CAP = 5


@register(
    "cep_all_matches_ranges",
    survey_rows=("T7", "J4", "W1", "F5"),
    oracle=_all_matches_oracle(_ALL_BLOCKS, "6 HOUR", _ALL_CAP),
)
def cep_all_matches_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-matches CEP enumeration (Flink skip-till-any-match) with a
    RANGE quantifier and an OPTIONAL block — the mode that makes
    times(m, n)/optional non-degenerate (VERDICT r6 item 3): every
    distinct click[×1..2] → view? → purchase event-set chain within
    6 h, capped at the first 5 chains per user in chain-lexicographic
    order. Plan: one applyInPandas over the events grouped by user,
    feeding each user's rows once through the all-matches NFA the
    streaming twin runs; the oracle spells the enumeration slot by
    slot as generated materialized CTEs, so the VALUE check covers
    the full enumeration (chain_str pins every chosen event)."""
    ev = load(spark, sf_dir, "events")
    return cep_all_matches(
        ev, _ALL_BLOCKS, _ALL_WITHIN, max_matches_per_key=_ALL_CAP
    )


@register(
    "cep_skip_past_last",
    survey_rows=("T7", "J4", "W1", "X3"),
    oracle=_skip_past_last_oracle(_ALL_BLOCKS, "6 HOUR", _ALL_CAP),
)
def cep_skip_past_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.skipPastLastEvent()`` on the
    same click[×1..2] → view? → purchase pattern as
    cep_all_matches_ranges: after a match emits, partials starting
    at-or-before its last event are discarded, so kept matches form
    each user's completion-order non-overlapping cover (same-end
    ties emit together, as Flink's NFA does). The NFA applies the
    strategy online in completion order inside the same per-user
    applyInPandas as cep_all_matches_ranges; the oracle replays the
    completion-order walk as a RECURSIVE CTE over its slot-by-slot
    enumeration, so the selection itself is value-checked, not just
    the enumeration."""
    ev = load(spark, sf_dir, "events")
    return cep_after_match_skip(
        ev,
        _ALL_BLOCKS,
        _ALL_WITHIN,
        strategy="skip_past_last_event",
        max_matches_per_key=_ALL_CAP,
    )


@register(
    "cep_skip_to_next",
    survey_rows=("T7", "J4", "W1"),
    oracle=_skip_to_next_oracle(_ALL_BLOCKS, "6 HOUR", _ALL_CAP),
)
def cep_skip_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.skipToNext()``: one match per
    start event — the first-EMITTED chain per (user, start), which in
    Flink's NFA means COMPLETION order (the chain ending earliest
    wins; end ties break chain-lexicographically, the declared
    determinism). The NFA remembers emitted starts and discards
    their other partials, inside the same per-user applyInPandas;
    the oracle picks one row per start with a window over its
    enumeration. With skip_past_last and
    no_skip (cep_all_matches_ranges) this completes the core Flink
    after-match skip-strategy trio (skip_to_first/skip_to_last are
    the anchored variants, registered separately)."""
    ev = load(spark, sf_dir, "events")
    return cep_after_match_skip(
        ev,
        _ALL_BLOCKS,
        _ALL_WITHIN,
        strategy="skip_to_next",
        max_matches_per_key=_ALL_CAP,
    )


_SKIP_FIRST_WITHIN = "12 hours"  # wider horizon so view-anchored
# intervals actually catch later starts at sf0.01 (6 h yields zero
# discards — a non-discriminating query would prove nothing)


@register(
    "cep_skip_to_first",
    survey_rows=("T7", "J4", "W1", "X3"),
    oracle=_skip_to_anchor_oracle(
        _ALL_BLOCKS, "12 HOUR", _ALL_CAP, 2, "first"
    ),
)
def cep_skip_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.skipToFirst("view")`` on the
    click[×1..2] → view? → purchase pattern (block 2, the OPTIONAL
    view — chains that skip it contribute no discard interval, the
    NULL-anchor case): after a match emits, partials started after
    the match's own start but before its first view event are
    discarded; earlier-started partials survive, the interval Flink
    documents as narrower than skipPastLastEvent's. Discriminating at
    sf0.01 (12 h horizon: 440 kept of 443 no_skip chains). The NFA
    keeps the discard intervals as strategy memory inside the same
    per-user applyInPandas; the oracle threads the interval list
    through a RECURSIVE CTE, value-checking the selection itself."""
    ev = load(spark, sf_dir, "events")
    return cep_after_match_skip(
        ev,
        _ALL_BLOCKS,
        _SKIP_FIRST_WITHIN,
        strategy="skip_to_first",
        max_matches_per_key=_ALL_CAP,
        skip_block=2,
    )


@register(
    "cep_skip_to_last",
    survey_rows=("T7", "J4", "W1", "X3"),
    oracle=_skip_to_anchor_oracle(_ALL_BLOCKS, "6 HOUR", _ALL_CAP, 1, "last"),
)
def cep_skip_to_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.skipToLast("click")`` on the
    same pattern, anchored at block 1 (the RANGE click block, where
    first != last event makes the strategy distinct from
    skipToFirst): discard partials started in [match_start,
    last_click_of_match) — 12 of 231 no_skip rows change at sf0.01.
    With skip_to_first, skip_to_next, skip_past_last and no_skip this
    completes all five strategies of Flink's after-match skip enum,
    each with an exact oracle."""
    ev = load(spark, sf_dir, "events")
    return cep_after_match_skip(
        ev,
        _ALL_BLOCKS,
        _ALL_WITHIN,
        strategy="skip_to_last",
        max_matches_per_key=_ALL_CAP,
        skip_block=1,
    )


_ITER_BLOCKS: list[tuple[str, int, int]] = [
    ("click", 1, 2),     # the chain whose running mean the condition reads
    ("purchase", 1, 1),  # conditioned block
]
_ITER_CONDS = {2: "__v > vsum / vcnt"}
_ITER_WITHIN = "12 hours"


@register(
    "cep_iterative_condition",
    survey_rows=("T7", "J4", "W1", "F5"),
    oracle=_iterative_oracle(_ITER_BLOCKS, "12 HOUR", _ALL_CAP, _ITER_CONDS),
)
def cep_iterative_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ITERATIVE CONDITION (``IterativeCondition`` /
    ``ctx.getEventsForPattern`` — the Pattern-API feature where a
    step's predicate reads the PARTIAL match; VERDICT r8 missing #1):
    every click[×1..2] → purchase chain within 12 h where the
    purchase's value EXCEEDS THE RUNNING MEAN of the chain's prior
    events — 'converted bigger than they browsed'. Each NFA partial
    carries the chain's running vsum/vcnt/vmin/vmax, and the
    condition string compiles through the restricted grammar shared
    with the streaming twin. The oracle evaluates the SAME expression
    text as a join conjunct over its slot-by-slot enumeration, in the
    same chain-ordered double arithmetic, value-checking the
    condition itself (first 5 chains per user,
    chain-lexicographic)."""
    ev = load(spark, sf_dir, "events")
    return cep_all_matches(
        ev,
        _ITER_BLOCKS,
        _ITER_WITHIN,
        max_matches_per_key=_ALL_CAP,
        conditions=_ITER_CONDS,
    )


_CONSEC_BLOCKS: list[tuple[str, int, int]] = [
    ("click", 2, 3),     # times(2,3).consecutive() — back-to-back run
    ("purchase", 1, 1),  # relaxed follow-up
]
_CONSEC_SET = {1}
_CONSEC_WITHIN = "24 hours"


@register(
    "cep_consecutive_clicks",
    survey_rows=("T7", "J4", "W1", "W3"),
    oracle=_consecutive_oracle(
        _CONSEC_BLOCKS, "24 HOUR", _ALL_CAP, _CONSEC_SET
    ),
)
def cep_consecutive_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``times(2,3).consecutive()`` — looping-block CONTIGUITY,
    the quantifier modifier the enumeration's native skip-till-any
    (``allowCombinations()``) mode doesn't express: a run of 2–3
    BACK-TO-BACK clicks (the user's immediately-successive events —
    any intervening event of any type breaks the run) followed
    relaxedly by a purchase within 24 h, 'rage-clicked then bought'.
    The NFA numbers each user's distinct (ts, event_type) events in
    order and requires seq = last + 1 inside the run; the oracle
    computes the same order as a per-user row_number rank with a
    rank = prev + 1 conjunct per slot, and a brute-force property
    test on adversarial streams covers the tie order."""
    ev = load(spark, sf_dir, "events")
    return cep_all_matches(
        ev,
        _CONSEC_BLOCKS,
        _CONSEC_WITHIN,
        max_matches_per_key=_ALL_CAP,
        consecutive=_CONSEC_SET,
    )


_UNTIL_BLOCKS: list[tuple[str, int, int | None]] = [
    ("click", 1, None),  # oneOrMore() — no declared upper bound
    ("purchase", 1, 1),
]
_UNTIL_CONDS = {1: "__v > 200"}  # ~1.7% of events are stops at sf0.01
_UNTIL_WITHIN = "6 hours"


@register(
    "cep_one_or_more_until",
    survey_rows=("T7", "J4", "W1", "F5"),
    oracle=_until_oracle(_UNTIL_BLOCKS, "6 HOUR", _ALL_CAP, _UNTIL_CONDS),
)
def cep_one_or_more_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``oneOrMore().until(...)`` — the UNBOUNDED looping
    quantifier plus its loop-stop condition (VERDICT r9 missing #1):
    every click-run (one or more clicks, Flink-default relaxed loop
    contiguity: a contiguous run of the user's click candidates)
    followed by a purchase within 6 h, where an event with value
    over 200 is a STOP — the loop never consumes it, and a stop
    falling strictly inside any of the chain's gaps around or inside
    the run kills the chain (the NFA's blocked take+ignore). The NFA
    loops as long as the data does, so no slot count is resolved
    from the data; the oracle replays the loop as a true RECURSIVE
    CTE with the stop/gap conjuncts, value-checking the enumeration
    (first 5 chains per user, chain-lexicographic)."""
    ev = load(spark, sf_dir, "events")
    return cep_all_matches(
        ev,
        _UNTIL_BLOCKS,
        _UNTIL_WITHIN,
        max_matches_per_key=_ALL_CAP,
        until=_UNTIL_CONDS,
    )


_GREEDY_BLOCKS: list[tuple[str, int, int | None]] = [
    ("view", 1, None),   # oneOrMore().greedy()
    ("purchase", 1, 1),
]
_GREEDY_SET = {1}
_GREEDY_WITHIN = "12 hours"


@register(
    "cep_greedy_views",
    survey_rows=("T7", "J4", "W1", "W3"),
    oracle=_greedy_oracle(_GREEDY_BLOCKS, "12 HOUR", _ALL_CAP, _GREEDY_SET),
)
def cep_greedy_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``oneOrMore().greedy()`` — the quantifier PREFERENCE
    modifier (VERDICT r9 missing #1, second half): view-runs followed
    by a purchase within 12 h, where the loop must consume the
    MAXIMAL run before proceeding — a chain is kept only if the
    candidate after its run's last view could not have been consumed
    (absent, beyond the chain's horizon, or arriving at-or-after the
    purchase). In the NFA a greedy partial takes an exit deadline the
    moment a consumable view passes unconsumed; the oracle states the
    same rule as a proceed conjunct on the per-(user, type) LEAD
    timestamp through its recursive loop CTE. Like Flink, greedy on
    the pattern's last element is rejected."""
    ev = load(spark, sf_dir, "events")
    return cep_all_matches(
        ev,
        _GREEDY_BLOCKS,
        _GREEDY_WITHIN,
        max_matches_per_key=_ALL_CAP,
        greedy=_GREEDY_SET,
    )


_GROUP_BLOCKS: list[tuple[str, int, int]] = [
    ("signup", 1, 1),
    ("click", 1, 1),
]
_GROUP_TIMES = (1, 2)
_GROUP_WITHIN = "12 hours"


@register(
    "cep_group_times_funnel",
    survey_rows=("T7", "J4", "W1", "U1"),
    oracle=_group_times_oracle(_GROUP_BLOCKS, 1, 2, "12 HOUR", _ALL_CAP),
)
def cep_group_times_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink PATTERN GROUPS (``Pattern.begin(sub).times(m, n)`` —
    VERDICT r9 missing #2): the signup → click sub-sequence repeated
    once or twice within 12 h, all-or-nothing per repetition — the
    structural composition per-block quantifiers cannot express
    (flattening into optional blocks would accept half-repetitions
    like signup click signup). The per-user function runs the NFA once
    per repeat count over the flattened block list and keeps the
    distinct event sets; the oracle replays each repeat count as a
    WITH-scoped subquery and unions them, so both the per-count
    enumerations AND the cross-count dedup are value-checked
    (discriminating at sf0.01: the capped output carries both 2- and
    4-event chains)."""
    ev = load(spark, sf_dir, "events")
    return cep_group_times(
        ev,
        _GROUP_BLOCKS,
        _GROUP_TIMES,
        _GROUP_WITHIN,
        max_matches_per_key=_ALL_CAP,
    )


_NEG_GAP_STEPS: list[str | tuple[str, str]] = [
    "view", ("not", "error"), "click", "purchase"
]
_NEG_GAP_WITHIN = "96 hours"
_NEG_TAIL_STEPS: list[str | tuple[str, str]] = [
    "click", "purchase", ("not", "error")
]
_NEG_TAIL_WITHIN = "48 hours"
_NOT_NEXT_STEPS: list[str | tuple[str, str]] = [
    "error", "error", ("not", "error")
]


@register(
    "cep_no_error_funnel",
    survey_rows=("T7", "J4", "J6"),
    oracle=_negative_oracle(_NEG_GAP_STEPS, "96 HOUR"),
)
def cep_no_error_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``notFollowedBy`` BETWEEN positives: per user, the first
    valid view → click → purchase chain (96 h window) where NO error
    event fell between the view and the click. An error kills only
    the partial whose view→click gap it lands in — the NFA spawns a
    partial at every view, so a user whose earliest chain is poisoned
    still matches from a later view (145 users at sf0.01; the old
    earliest-chain-only restriction found 65). Plan: per-start
    min-after chain rounds, ONE keyed left-anti join for the
    negative, one completion-order window pick; oracle replays the
    per-start chain CTEs plus a NOT EXISTS on the same open
    interval."""
    ev = load(spark, sf_dir, "events")
    return cep_not_followed_by(ev, _NEG_GAP_STEPS, _NEG_GAP_WITHIN)


@register(
    "cep_quiet_after_purchase",
    survey_rows=("T7", "J6", "T4"),
    oracle=_negative_oracle(_NEG_TAIL_STEPS, "48 HOUR"),
)
def cep_quiet_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``notFollowedBy`` at the pattern TAIL (which Flink only
    admits with ``within``, as here): per user, the first valid
    click → purchase chain whose 48 h horizon then closes with NO
    error after the purchase — 'converted and stayed healthy'. A
    poisoned or timed-out early chain only kills its own partial;
    later clicks re-seed (per-start semantics, r8). The match emits
    only once the window passes silent, the streaming deferred-emit
    shape; in batch the horizon cut is an anti-join range predicate
    ((t_last, t1+within]). Oracle: per-start chain CTEs + tail NOT
    EXISTS + completion-order pick."""
    ev = load(spark, sf_dir, "events")
    return cep_not_followed_by(ev, _NEG_TAIL_STEPS, _NEG_TAIL_WITHIN)


@register(
    "cep_not_next_error_pair",
    survey_rows=("T7", "W3", "W1"),
    oracle=_not_next_oracle(_NOT_NEXT_STEPS),
)
def cep_not_next_error_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``notNext`` (strict negative): every position where a
    user logged exactly-two consecutive errors — error, error, then
    an immediately-following event that is NOT a third error (a
    key's stream ENDING also satisfies the negative, as Flink's
    window close does). Complements cep_strict_error_runs, which
    finds the >= 3 runs this query excludes. One window sort per
    key, IS-DISTINCT-FROM lead conjunct — a single shuffle."""
    ev = load(spark, sf_dir, "events")
    return cep_not_next(
        ev, _NOT_NEXT_STEPS, key_col="user_id", order_cols=["event_id"]
    )


@register(
    "cep_times_quantifier",
    survey_rows=("T7", "W1", "J4"),
    oracle=_times_oracle(_TIMES_BLOCKS, "96 HOUR"),
)
def cep_times_quantifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP (Flink ``times(n)``): users whose earliest
    chain of THREE clicks followed by a purchase completes within
    96 h — the 'engaged-then-converted' funnel with a repetition
    quantifier, the last Flink Pattern-API surface without a query.
    Block-native plan: the times(3) block is ONE dense_rank window
    pass + conditional min-pivot (two shuffles however large n gets),
    not three join rounds; equivalence with the flattened
    click,click,click,purchase chain is pinned by a property test.
    Oracle replays the same block structure as generated CTEs."""
    ev = load(spark, sf_dir, "events")
    return cep_times(ev, _TIMES_BLOCKS, _TIMES_WITHIN)


@register(
    "cep_funnel_timeouts",
    survey_rows=("T7", "T4", "J2", "A9"),
    oracle=_timeout_oracle(_FUNNEL_STEPS, "2 HOUR"),
)
def cep_funnel_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink CEP's timeout SIDE OUTPUT (PatternTimeoutFunction): users
    whose earliest view → click → purchase → purchase attempt had NOT
    completed when its 2 h horizon closed, with the matched prefix
    (matched_steps, last_matched_ts) and the step still awaited — the
    'started checkout but stalled' alarm the family feeds to ops
    dashboards. Same k−1 keyed join/agg chain as the match side, left
    joins keeping stalls; oracle replays it as generated left-join
    CTEs with the identical horizon cut."""
    ev = load(spark, sf_dir, "events")
    return cep_timed_out(ev, _FUNNEL_STEPS, _TIMEOUT_WITHIN)


@register(
    "cep_funnel_first_match",
    survey_rows=("T7", "J4", "W3", "A9"),
    oracle=_relaxed_oracle(_FUNNEL_STEPS, "96 HOUR"),
)
def cep_funnel_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic relaxed-contiguity CEP (Flink followedBy): the earliest
    view → click → purchase → purchase chain per user completing
    within 96 h — a FOUR-step pattern no hand-written funnel query
    covered, built by the k-generic operator (k−1 min-after keyed
    join rounds, no per-key Python). Oracle: the same chain as
    generated min-after CTEs."""
    ev = load(spark, sf_dir, "events")
    return cep_first_match(ev, _FUNNEL_STEPS, _FUNNEL_WITHIN)


@register(
    "cep_strict_error_runs",
    survey_rows=("T7", "W3", "W1"),
    oracle=_strict_oracle(_STRICT_STEPS),
)
def cep_strict_error_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic strict-contiguity CEP (Flink next): every position
    where a user's three CONSECUTIVE events are all errors — the
    crash-loop alarm. One window sort per user, lead-conjunction
    predicate; every match position reported (overlapping runs of
    length n emit n−2 matches, as Flink's next does)."""
    ev = load(spark, sf_dir, "events")
    return cep_strict_matches(
        ev, _STRICT_STEPS, key_col="user_id", order_cols=["event_id"]
    )

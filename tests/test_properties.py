"""Property-based tests (hypothesis) for the engine's determinism
invariants — the guarantees the oracle-compare relies on.

Sessions are expensive, so examples are few but adversarial:
hypothesis shrinks failures to minimal cases.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from flink_realtime_edu_spark.operators.asof import asof_join_backward

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _exact8(v: float) -> Decimal:
    """One row's exact decimal: the double rounded HALF_UP to 8 places."""
    return Decimal(v).quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)


def _half_up_float(exact: Decimal, scale: int) -> float:
    return float(exact.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _half_up_ratio(total: Decimal, den: int, scale: int) -> float:
    """total / den rounded HALF_UP (ties away from zero) at ``scale``,
    in integer arithmetic — no intermediate rounding."""
    num = abs(int(total.scaleb(8))) * 10**scale
    q = (2 * num + den * 10**8) // (2 * den * 10**8)
    return float(Decimal(q if total >= 0 else -q).scaleb(-scale))


def _duck(rows, select: str, cols: str = "i INTEGER, x DOUBLE, k INTEGER"):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({cols})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con.execute(select).fetchall()


@given(
    values=st.lists(doubles, min_size=1, max_size=60),
    n_parts=st.integers(min_value=1, max_value=7),
)
@example(values=[0.1, 0.045], n_parts=2)  # half-cent tie: 0.145
@example(values=[40866714.0, 0.425], n_parts=1)  # star_join_revenue's tie
@SET
def test_dec_sum_is_partition_invariant_and_exact(spark, values, n_parts):
    """dec_sum is the exact decimal sum rounded HALF_UP, bit for bit,
    regardless of how the rows are partitioned (the property that
    makes Spark and DuckDB hash-identical despite different
    accumulation orders) — and DuckDB's dec_sum_sql twin agrees, in
    the grouped and the running-window (``over=``) form."""
    rows = [(i, v, 1) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "i int, x double, k int").repartition(n_parts)
    got = df.agg(dec_sum("x", scale=2).alias("s")).collect()[0].s
    want = _half_up_float(sum(_exact8(v) for v in values), 2)
    assert got == want
    assert _duck(rows, f"SELECT {dec_sum_sql('x')} FROM t") == [(want,)]
    # And: identical under a different partitioning (bit-exact).
    got2 = (
        df.repartition(max(1, 8 - n_parts))
        .agg(dec_sum("x", scale=2).alias("s"))
        .collect()[0]
        .s
    )
    assert got == got2

    run = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got_run = [
        r.s for r in df.select("i", dec_sum("x", over=run).alias("s")).orderBy("i").collect()
    ]
    want_run = [
        _half_up_float(sum(_exact8(v) for v in values[: i + 1]), 2)
        for i in range(len(values))
    ]
    assert got_run == want_run
    duck_run = _duck(
        rows,
        f"SELECT {dec_sum_sql('x', over='w')} FROM t "
        "WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "ORDER BY i",
    )
    assert [r[0] for r in duck_run] == want_run


@given(
    rows=st.lists(
        st.tuples(doubles, st.integers(min_value=1, max_value=5)), min_size=1, max_size=40
    ),
)
@example(rows=[(270481.0528125, 1)] * 64)  # 17310787.38 / 64: a 6-dp tie
@example(rows=[(1.0000005, 1), (1.0000005, 2)])
@example(rows=[(-0.0000125, 3), (-0.0000125, 1)])
@SET
def test_dec_avg_rounds_the_exact_mean_half_up(spark, rows):
    """dec_avg is the exact decimal sum over the count, rounded HALF_UP
    at 6 places with no intermediate rounding — and so are its DuckDB
    twin and the shared SQL text Spark runs, including the ``den=``
    ratio and the ``over=`` moving-window forms. Rounding the DOUBLE
    quotient instead let the engines split at exact ties."""
    values = [v for v, _ in rows]
    data = [(i, v, k) for i, (v, k) in enumerate(rows)]
    df = spark.createDataFrame(data, "i int, x double, k int").repartition(3)
    total = sum(_exact8(v) for v in values)
    want = _half_up_ratio(total, len(values), 6)
    want_ratio = _half_up_ratio(total, sum(k for _, k in rows), 6)

    got = df.agg(
        dec_avg("x").alias("a"), dec_avg("x", den=F.sum("k")).alias("r")
    ).collect()[0]
    assert (got.a, got.r) == (want, want_ratio)
    sql = f"SELECT {dec_avg_sql('x')}, {dec_avg_sql('x', den='SUM(k)')} FROM t"
    assert _duck(data, sql) == [(want, want_ratio)]
    df.createOrReplaceTempView("dec_avg_rows")
    shared = spark.sql(sql.replace("FROM t", "FROM dec_avg_rows")).collect()[0]
    assert tuple(shared) == (want, want_ratio)

    m3 = Window.orderBy("i").rowsBetween(-2, Window.currentRow)
    got_m3 = [
        r.a for r in df.select("i", dec_avg("x", over=m3).alias("a")).orderBy("i").collect()
    ]
    want_m3 = [
        _half_up_ratio(
            sum(_exact8(v) for v in values[max(0, i - 2) : i + 1]), min(i, 2) + 1, 6
        )
        for i in range(len(values))
    ]
    assert got_m3 == want_m3
    duck_m3 = _duck(
        data,
        f"SELECT {dec_avg_sql('x', over='w')} FROM t "
        "WINDOW w AS (ORDER BY i ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) ORDER BY i",
    )
    assert [r[0] for r in duck_m3] == want_m3


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=1000),  # ts (seconds)
    ),
    min_size=1,
    max_size=40,
)


@given(left=events_strategy, right=events_strategy)
@SET
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof_join_backward == per-row max(right_ts <= left_ts) brute
    force, including no-match → NULL."""
    ldf = spark.createDataFrame(
        [(i, k, F.lit(None)) for i, (k, t) in enumerate(left)],
        "lid long, k long, dummy string",
    ).drop("dummy")
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, lts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, rts long"
    )
    out = asof_join_backward(
        ldf, rdf, keys=["k"], left_ts="lts", right_ts="rts",
        payload=["rts"], right_tiebreak=["rid"],
    )
    got = {r.lid: r.rts_asof for r in out.collect()}
    for i, (k, t) in enumerate(left):
        cands = [rt for (rk, rt) in right if rk == k and rt <= t]
        want = max(cands) if cands else None
        assert got[i] == want, (i, k, t, got[i], want)


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (X5) vs brute force
# ---------------------------------------------------------------------------

word = st.sampled_from(["a", "b", "c", "d"])
doc = st.lists(word, min_size=1, max_size=10).map(" ".join)


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    k = max(len(w) - 2, 1)
    return {" ".join(w[i : i + 3]) for i in range(k)}


@given(texts=st.lists(doc, min_size=2, max_size=8))
@SET
def test_jaccard_pairs_match_bruteforce(spark, texts):
    """jaccard_pairs_exact (the production count-based pipeline) must
    find EXACTLY the pairs an all-pairs brute force finds at J ≥ 0.3
    (blocking loses nothing: any pair with J > 0 shares a shingle)."""
    from flink_realtime_edu_spark.operators.dedup import jaccard_pairs_exact

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs_exact(docs, shingle_words=3, threshold=0.3).collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            sa, sb = _shingles(texts[i]), _shingles(texts[j])
            jac = round(len(sa & sb) / len(sa | sb), 6)
            if jac >= 0.3:
                want[(i, j)] = jac
    assert got == want


# ---------------------------------------------------------------------------
# T7 timer state function vs the batch anti-join semantics
# ---------------------------------------------------------------------------


class _FakeGroupState:
    """pyspark GroupState as applyInPandasWithState hands it to a state
    function: ``update`` stores a copy of the row (the state store
    round-trips it), a timer must lie above the watermark, and a query
    without a watermark cannot read one."""

    def __init__(self, watermark: bool):
        self.row = None
        self.timeout = None
        self.hasTimedOut = False
        self.wm = 0 if watermark else None

    @property
    def exists(self):
        return self.row is not None

    @property
    def get(self):
        return self.row

    def update(self, v):
        self.row = tuple(list(x) if isinstance(x, list) else x for x in v)

    def remove(self):
        self.row = None
        self.timeout = None

    def setTimeoutTimestamp(self, ts):
        assert self.wm is not None and ts > self.wm, (
            "Spark rejects timers at/below the watermark"
        )
        self.timeout = ts

    def getCurrentWatermarkMs(self):
        assert self.wm is not None, "Spark raises: the query has no watermark"
        return self.wm


def _replay(fn, batches, delay_ms=None, log=None):
    """Drive the keyed-state function ``fn`` of one key through
    ``batches`` (one call per pandas frame, rows in the order given)
    the way Spark's applyInPandasWithState does: every call starts
    with the key's timer cleared. With a watermark (``delay_ms`` not
    None) the watermark moves to max event time − delay at the end of
    each batch, never backwards; a timer at or below it then fires a
    no-data call; after the last batch the watermark passes every
    horizon. Event times are read from ``ts_ms``, else ``ts_us``.
    Returns the emitted rows as tuples; ``log`` collects the (state
    row, timer) held after each call."""
    state = _FakeGroupState(watermark=delay_ms is not None)
    emitted: list[tuple] = []

    def call(pdfs, timed_out):
        state.timeout = None  # Spark clears the timer on every call
        state.hasTimedOut = timed_out
        for out in fn((7,), iter(pdfs), state):
            emitted.extend(out.itertuples(index=False, name=None))
        state.hasTimedOut = False
        if log is not None:
            log.append((state.row, state.timeout))

    def fire():
        while state.timeout is not None and state.wm >= state.timeout:
            call([], True)

    for pdf in batches:
        call([pdf], False)
        if delay_ms is not None:
            ms = pdf["ts_ms"] if "ts_ms" in pdf else pdf["ts_us"] // 1000
            state.wm = max(state.wm, int(ms.max()) - delay_ms)
            fire()
    if delay_ms is not None:
        state.wm = 10**9  # end of stream: advance past every horizon
        fire()
    return emitted


timer_events = st.lists(
    st.tuples(
        st.sampled_from(["click", "purchase", "view"]),
        st.integers(min_value=0, max_value=1000),
    ),
    min_size=1,
    max_size=30,
)


@given(evs=timer_events, cuts=st.sets(st.integers(min_value=1, max_value=29)), data=st.data())
@SET
def test_abandoned_state_fn_matches_antijoin(evs, cuts, data):
    """Replaying any in-order batch split of an event sequence through
    the abandoned-click core must emit exactly the clicks the
    batch anti-join calls abandoned (no purchase in [c, c+T]),
    regardless of batching and watermark pacing. Pure-python harness:
    emulates Spark's end-of-batch watermark update and timer firing."""
    import pandas as pd

    from flink_realtime_edu_spark.streaming.stateful import (
        _keyed_fn,
        _make_abandoned_fn,
    )

    T, DELAY = 100, 50
    evs = sorted(evs, key=lambda e: e[1])  # in-order delivery across batches
    idx = sorted(c for c in cuts if c < len(evs))
    batches, prev = [], 0
    for c in idx + [len(evs)]:
        if c > prev:
            batches.append(evs[prev:c])
            prev = c
    # shuffle within the batch: arrival order is arbitrary
    frames = [
        pd.DataFrame(
            {
                "event_type": [e[0] for e in batch],
                "ts_ms": pd.Series([e[1] for e in batch], dtype="int64"),
            }
        ).sample(frac=1, random_state=data.draw(st.integers(0, 10)))
        for batch in batches
    ]
    emitted = [
        int(t)
        for _, t in _replay(_keyed_fn(_make_abandoned_fn(T)), frames, DELAY)
    ]

    purchases = [t for et, t in evs if et == "purchase"]
    want = sorted(
        t
        for et, t in evs
        if et == "click" and not any(t <= p <= t + T for p in purchases)
    )
    assert sorted(emitted) == want


# ---------------------------------------------------------------------------
# Batch-core invariants of the vectorized dedup kernels (no Spark —
# these run the numpy cores directly, so hypothesis can afford many
# examples). The scary bug class in batched reduceat code is offset
# arithmetic: a doc's result silently depending on its batch
# neighbors. Batch composition invariance kills that whole class.
# ---------------------------------------------------------------------------

_words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=30
)
_texts = st.lists(_words.map(" ".join), min_size=1, max_size=8)

FAST = settings(max_examples=100, deadline=None)


@FAST
@given(_texts)
def test_minhash_batch_composition_invariant(texts):
    from flink_realtime_edu_spark.operators.dedup import minhash_batch

    batched = minhash_batch(texts, n_hashes=8)
    solo = [minhash_batch([t], n_hashes=8)[0] for t in texts]
    assert all((a == b).all() for a, b in zip(batched, solo))
    # identical text → identical signature, wherever it sits
    dup = minhash_batch([texts[0], "zzz unrelated text", texts[0]], n_hashes=8)
    assert (dup[0] == dup[2]).all()


@FAST
@given(_texts)
def test_simhash_batch_composition_invariant(texts):
    from flink_realtime_edu_spark.operators.dedup import simhash_batch

    batched = simhash_batch(texts)
    solo = [simhash_batch([t])[0] for t in texts]
    assert list(batched) == solo


@FAST
@given(
    st.text(alphabet="abcdefgh ", min_size=0, max_size=60),
    st.text(alphabet="abcdefgh ", min_size=0, max_size=60),
    st.text(alphabet="qrstuvwx", min_size=11, max_size=24),
)
def test_winnow_shared_substring_guarantee(prefix_a, prefix_b, shared):
    """MOSS guarantee: any shared substring of length ≥ k + window - 1
    (= 11 bytes at k=8, window=4) yields ≥ 1 shared fingerprint —
    regardless of what surrounds it. The shared alphabet is disjoint
    from the prefixes' so the substring really is the only overlap."""
    from flink_realtime_edu_spark.operators.dedup import winnow_batch

    fa, fb = winnow_batch([prefix_a + shared, prefix_b + shared])
    assert set(fa) & set(fb)


@FAST
@given(_texts)
def test_winnow_batch_composition_invariant(texts):
    from flink_realtime_edu_spark.operators.dedup import winnow_batch

    batched = winnow_batch(texts)
    solo = [winnow_batch([t])[0] for t in texts]
    assert all((a == b).all() for a, b in zip(batched, solo))


changelog_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id (few keys → long runs)
        st.integers(min_value=0, max_value=10_000),  # distinct ts offsets (seconds)
        st.sampled_from(["a", "b", "c"]),  # state
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),  # (user, ts) unique, like the testdata
)


@given(rows=changelog_strategy, n_parts=st.integers(min_value=1, max_value=5))
@SET
def test_state_intervals_partition_each_users_timeline(spark, rows, n_parts):
    """SCD2 compaction invariants (queries/temporal.py), under any
    input partitioning: (1) per user, intervals tile the timeline
    exactly — each valid_to equals the next valid_from, one open
    interval per user; (2) consecutive intervals never share a state
    (runs are maximal); (3) interval n_events sums back to the raw
    changelog count."""
    from flink_realtime_edu_spark.queries.temporal import state_intervals

    df = spark.createDataFrame(
        [
            (i, 1_700_000_000_000_000 + ts * 1_000_000, u, s)
            for i, (u, ts, s) in enumerate(rows)
        ],
        "event_id long, ts_us long, user_id long, event_type string",
    ).withColumn("ts", F.timestamp_micros("ts_us")).repartition(n_parts)

    iv = state_intervals(df).collect()
    by_user: dict[int, list] = {}
    for r in iv:
        by_user.setdefault(r.user_id, []).append(r)
    assert sum(r.n_events for r in iv) == len(rows)
    for user, items in by_user.items():
        items.sort(key=lambda r: r.valid_from)
        opens = [r for r in items if r.valid_to is None]
        assert len(opens) == 1 and items[-1].valid_to is None
        for a, b in zip(items, items[1:]):
            assert a.valid_to == b.valid_from  # tiling, half-open
            assert a.state != b.state  # maximal runs


@given(
    n_docs=st.integers(min_value=1, max_value=40),
    n_parts=st.integers(min_value=1, max_value=5),
)
@SET
def test_training_shuffle_is_a_partition_invariant_bijection(spark, n_docs, n_parts):
    """The epoch-shuffle manifest must be a bijection doc_id ↔
    (shard, position): every doc appears exactly once, positions
    within each shard are exactly 1..n_shard with no gaps, and the
    whole mapping is independent of the input partitioning (the
    restart-stability the md5 keying promises)."""
    from flink_realtime_edu_spark.queries.training import (
        training_shuffle_manifest,
    )
    from flink_realtime_edu_spark.queries import load_registry

    build = load_registry()["training_shuffle_manifest"].build
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [(i, f"tok{i} alpha beta {i % 7}") for i in range(n_docs)],
            "doc_id long, text string",
        )
        docs.repartition(n_parts).write.parquet(os.path.join(d, "documents.parquet"))
        rows = build(spark, d).collect()
        assert sorted(r.doc_id for r in rows) == list(range(n_docs))
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r.position)
        for shard, pos in by_shard.items():
            assert sorted(pos) == list(range(1, len(pos) + 1)), (shard, pos)
        rows2 = build(spark, d).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, allow_infinity=False),
            min_size=8,
            max_size=8,
        ),
        min_size=4,
        max_size=24,
    )
)
@SET
def test_pq_encode_batch_is_deterministic_and_in_range(vecs):
    """pq_encode_batch: codes are within [0, k), deterministic, and
    identical vectors always share a code word in every subspace."""
    import numpy as np

    from flink_realtime_edu_spark.operators.quantization import (
        _lloyd_numpy,
        pq_encode_batch,
    )

    x = np.array(vecs, dtype=np.float64)
    norms = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    x = x / norms
    k = min(4, len(x))
    cb = np.stack([_lloyd_numpy(x[:, i * 2 : (i + 1) * 2], k, 4) for i in range(4)])
    c1 = pq_encode_batch(x, cb)
    c2 = pq_encode_batch(x, cb)
    assert (c1 == c2).all()
    assert c1.min() >= 0 and c1.max() < k
    # identical rows -> identical codes
    x2 = np.vstack([x, x[:1]])
    c3 = pq_encode_batch(x2, cb)
    assert (c3[0] == c3[-1]).all()


# ---------------------------------------------------------------------------
# Streaming CEP timeout fn vs the batch horizon-cut semantics
# ---------------------------------------------------------------------------

cep_events = st.lists(
    st.tuples(
        st.sampled_from(["view", "click", "purchase", "noise"]),
        st.integers(min_value=0, max_value=1000),
    ),
    min_size=1,
    max_size=30,
)


@given(
    evs=cep_events,
    cuts=st.sets(st.integers(min_value=1, max_value=29)),
    data=st.data(),
)
@SET
def test_cep_timeout_state_fn_matches_batch_cut(evs, cuts, data):
    """Replaying any in-order batch split through the timeout-emitting
    CEP state fn (including its two emission paths: watermark timer
    and inline overtaken-horizon) must produce exactly the batch
    operator's horizon-cut result: one completion if the greedy chain
    finishes within the horizon, else one timed-out partial with the
    prefix matched at horizon close — regardless of batching,
    within-batch arrival order, or watermark pacing."""
    import pandas as pd

    from flink_realtime_edu_spark.streaming.cep import _make_cep_to_fn
    from flink_realtime_edu_spark.streaming.stateful import _keyed_fn

    steps, T, DELAY = ["view", "click", "purchase"], 100, 50
    # Unit discipline mirrors Spark: event times in MICROseconds, the
    # watermark and timers in MILLIseconds (the fn divides by 1000).
    # Abstract time u -> ts_us = 1000*u, wm_ms = u, so horizons land
    # exactly where the fn computes them.
    T_us = T * 1000
    evs = sorted(enumerate(evs), key=lambda e: (e[1][1], e[0]))
    # (event_type, ts_us, tiebreak) in event-time order across batches
    seq = [(et, ts * 1000, i) for i, (et, ts) in evs]

    # pure-python mirror of the batch greedy chain + horizon cut
    step_idx, t1, tprev = 0, None, None
    for et, ts, _ in seq:
        if step_idx >= len(steps) or et != steps[step_idx]:
            continue
        if step_idx > 0 and (ts <= tprev or ts - t1 > T_us):
            continue
        if step_idx == 0:
            t1 = ts
        tprev = ts
        step_idx += 1
    if t1 is None:
        want = []
    elif step_idx == len(steps):
        want = [(t1, tprev, len(steps), False)]
    else:
        want = [(t1, tprev, step_idx, True)]

    idx = sorted(c for c in cuts if c < len(seq))
    batches, prev = [], 0
    for c in idx + [len(seq)]:
        if c > prev:
            batches.append(seq[prev:c])
            prev = c
    frames = [
        pd.DataFrame(
            {
                "event_type": [e[0] for e in batch],
                "ts_us": pd.Series([e[1] for e in batch], dtype="int64"),
                "__tb": pd.Series([e[2] for e in batch], dtype="int64"),
            }
        ).sample(frac=1, random_state=data.draw(st.integers(0, 10)))
        for batch in batches
    ]
    emitted = [
        (int(a), int(b), int(m), bool(to))
        for _, a, b, m, to in _replay(
            _keyed_fn(_make_cep_to_fn(steps, T_us)), frames, DELAY
        )
    ]

    assert emitted == want


@given(
    evs=st.lists(
        st.sampled_from(["error", "view"]), min_size=3, max_size=25
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=24)),
)
@SET
def test_cep_strict_state_fn_matches_sliding_window(evs, cuts):
    """Any in-order batch split through the strict-contiguity state fn
    must emit exactly the sliding-window matches of the whole
    sequence — runs straddling batch boundaries included — and the
    KMP suffix-prefix trim must never carry state for a key whose
    recent events cannot continue the pattern."""
    import pandas as pd

    from flink_realtime_edu_spark.streaming.cep import _make_cep_strict_fn
    from flink_realtime_edu_spark.streaming.stateful import _keyed_fn

    steps = ["error", "error", "error"]
    seq = [(et, (i + 1) * 1000, i) for i, et in enumerate(evs)]
    want = [
        (seq[i][1], seq[i + 2][1])
        for i in range(len(seq) - 2)
        if [seq[i][0], seq[i + 1][0], seq[i + 2][0]] == steps
    ]

    idx = sorted(c for c in cuts if c < len(seq))
    batches, prev = [], 0
    for c in idx + [len(seq)]:
        if c > prev:
            batches.append(seq[prev:c])
            prev = c
    frames = [
        pd.DataFrame(
            {
                "event_type": [e[0] for e in batch],
                "ts_us": pd.Series([e[1] for e in batch], dtype="int64"),
                "__tb": pd.Series([e[2] for e in batch], dtype="int64"),
            }
        )
        for batch in batches
    ]
    log: list = []
    emitted = [
        (int(a), int(b))
        for _, a, b in _replay(
            _keyed_fn(_make_cep_strict_fn(steps, None)), frames, log=log
        )
    ]
    for row, _ in log:
        # hygiene: carried state must be a usable pattern prefix
        if row is not None:
            types, _ = row
            assert list(types) and all(t == "error" for t in types)
    assert emitted == want


# (blocks, strategy keywords) for the split-invariance property: all
# five skip strategies, plus one valued, one consecutive and one
# until + greedy pattern
_AM_SPLIT_SPECS = [
    ([("a", 1, 2), ("b", 0, 1), "c"], {}),
    ([("a", 1, 2), ("b", 0, 1), "c"], {"strategy": "skip_to_next"}),
    ([("a", 1, 2), ("b", 0, 1), "c"], {"strategy": "skip_past_last_event"}),
    ([("a", 1, 2), ("b", 0, 1), "c"],
     {"strategy": "skip_to_first", "skip_block": 2}),
    ([("a", 1, 2), ("b", 0, 1), "c"],
     {"strategy": "skip_to_last", "skip_block": 1}),
    ([("a", 1, 2), "c"], {"conditions": {2: "__v > vsum / vcnt"}}),
    ([("a", 2, 3), "c"], {"consecutive": {1}}),
    ([("a", 1, None), "c"],
     {"until": {1: "__v > 2 OR event_type = 'b'"}, "greedy": {1}}),
]


@FAST
@given(
    evs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=12),
            st.sampled_from([1.0, 2.0, 3.0]),
        ),
        min_size=1,
        max_size=16,
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=15)),
)
def test_all_matches_nfa_is_split_invariant(evs, cuts):
    """The all-matches NFA core kept set is independent of how a key's
    ordered rows are cut into calls (Structured Streaming's prefix
    consistency, for ordered arrival): feeding the rows in pieces —
    the state dict round-tripped through its json row between pieces,
    as the state store does, and pruned at each piece's last
    timestamp, as the zero-delay watermark timer does — keeps exactly
    the chains one call over all rows keeps. Cuts never split a
    same-timestamp group (the documented contract). No Spark: the core
    is GroupState-free."""
    import pandas as pd

    from flink_realtime_edu_spark.streaming.cep import (
        _all_matches_spec,
        _am_state_dump,
        _am_state_load,
        _make_am_nfa,
    )

    rows = sorted(evs, key=lambda e: e[1])
    pdf = pd.DataFrame(
        {
            "ts_us": pd.Series([t * 1_000_000 for _, t, _ in rows], dtype="int64"),
            "event_type": [et for et, _, _ in rows],
            "__v": [v for _, _, v in rows],
        }
    )
    bounds = [0] + sorted(
        c for c in cuts if c < len(rows) and rows[c][1] != rows[c - 1][1]
    ) + [len(rows)]
    for blocks, kw in _AM_SPLIT_SPECS:
        spec = _all_matches_spec(blocks, **kw)
        feed, prune = _make_am_nfa(within_us=5_000_000, **spec)
        whole = feed({}, pdf)
        st_, split = {}, []
        for lo, hi in zip(bounds, bounds[1:]):
            split += feed(st_, pdf.iloc[lo:hi])
            prune(st_, int(pdf["ts_us"].iloc[hi - 1]) + 1)
            st_ = _am_state_load(_am_state_dump(st_))
        assert sorted(split) == sorted(whole), (blocks, kw)
        assert len(set(whole)) == len(whole), (blocks, kw)


_W_US = 100_000  # the keyed cores' within: 100 ms


def _keyed_state_fns(ttl_us: int) -> dict:
    """Each keyed automaton by name, as the applyInPandasWithState
    function the one adapter builds around its core. ``ttl_us`` is the
    done_ttl of the ``*_ttl`` variants."""
    from flink_realtime_edu_spark.operators.cep import _split_negatives
    from flink_realtime_edu_spark.streaming.cep import (
        _all_matches_spec,
        _make_am_nfa,
        _make_cep_am_fn,
        _make_cep_fn,
        _make_cep_nfb_fn,
        _make_cep_strict_fn,
        _make_cep_to_fn,
    )
    from flink_realtime_edu_spark.streaming.stateful import (
        _keyed_fn,
        _make_abandoned_fn,
    )

    steps = ["view", "click", "purchase"]
    gap = _split_negatives(["view", ("not", "noise"), "click"])
    tail = _split_negatives(["view", "click", ("not", "purchase")])
    spec = _all_matches_spec([("view", 1, 2), "click"], "skip_to_next")
    am = _make_am_nfa(within_us=_W_US, cap=3, **spec)
    cores = {
        "first_match": _make_cep_fn(steps, _W_US),
        "first_match_ttl": _make_cep_fn(steps, _W_US, ttl_us),
        "timeouts": _make_cep_to_fn(steps, _W_US),
        "nfb_gap": _make_cep_nfb_fn(*gap, _W_US),
        "nfb_tail": _make_cep_nfb_fn(*tail, _W_US),
        "nfb_tail_ttl": _make_cep_nfb_fn(*tail, _W_US, ttl_us),
        "strict": _make_cep_strict_fn(["view", "view", "click"], None),
        "all_matches": _make_cep_am_fn(*am, _W_US, 3),
        "abandoned": _make_abandoned_fn(100),
    }
    return {name: _keyed_fn(core) for name, core in cores.items()}


def _keyed_frame(rows, ms_col: bool = False):
    """(event_type, ms) rows -> the frame a keyed core reads: ``ts_ms``
    for the abandoned-click core, else ``ts_us`` plus the row index as
    ``__tb``."""
    import pandas as pd

    ms = pd.Series([t for _, t in rows], dtype="int64")
    if ms_col:
        return pd.DataFrame({"event_type": [e for e, _ in rows], "ts_ms": ms})
    return pd.DataFrame(
        {
            "event_type": [e for e, _ in rows],
            "ts_us": ms * 1000,
            "__tb": pd.Series(range(len(rows)), dtype="int64"),
        }
    )


_UNTIMED = {"first_match", "strict"}


@FAST
@given(
    evs=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "noise"]),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=29)),
    seed=st.integers(min_value=0, max_value=10),
)
def test_keyed_cores_are_split_invariant(evs, cuts, seed):
    """Every CEP core, replayed through the one adapter as Spark would
    (watermark 50 ms behind, timers firing between batches), emits the
    same rows whether a key's ordered rows arrive in one call or cut
    into any calls that keep each same-timestamp group whole (Structured
    Streaming's prefix consistency), with rows shuffled inside each
    call. The ttl variants' ttl (400 ms) outlasts the 300 ms of event
    time, so no eviction may change a match; once the watermark passes
    every deadline they must hold no state. No Spark."""
    seq = sorted(evs, key=lambda e: e[1])
    pdf = _keyed_frame(seq)
    bounds = [0] + sorted(
        c for c in cuts if c < len(seq) and seq[c][1] != seq[c - 1][1]
    ) + [len(seq)]
    pieces = [pdf.iloc[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    for name, fn in _keyed_state_fns(ttl_us=400_000).items():
        if name == "abandoned":  # its own property: the anti-join mirror
            continue
        delay = None if name in _UNTIMED else 50
        whole = _replay(fn, [pdf.sample(frac=1, random_state=seed)], delay)
        log: list = []
        split = _replay(
            fn,
            [p.sample(frac=1, random_state=seed) for p in pieces],
            delay,
            log,
        )
        assert sorted(split) == sorted(whole), name
        if name.endswith("_ttl"):
            assert log[-1][0] is None, name


# One fixed input per keyed automaton: (watermark delay in ms or None,
# batches of (event_type, ms) rows), and the (state row, timer) each
# call leaves — recorded with the GroupState functions these cores
# replaced, so a checkpoint written before them restores and evolves
# the same.
_CHECKPOINT_INPUT = {
    "first_match": (None, [
        [("view", 10), ("noise", 12)], [("click", 30)],
        [("purchase", 60), ("view", 70)], [("view", 200)],
    ]),
    "first_match_ttl": (10, [
        [("view", 10), ("click", 30)], [("purchase", 90)], [("view", 300)],
        [("view", 310), ("click", 320)],
    ]),
    "timeouts": (10, [
        [("view", 10), ("click", 30)], [("noise", 200)], [("view", 300)],
        [("view", 400)],
    ]),
    "nfb_gap": (10, [
        [("view", 10), ("noise", 20), ("view", 30)], [("click", 50)],
        [("view", 60)],
    ]),
    "nfb_tail": (10, [
        [("view", 10), ("click", 20)], [("view", 100), ("purchase", 105)],
        [("noise", 250)],
    ]),
    "nfb_tail_ttl": (10, [
        [("view", 10), ("click", 20)], [("noise", 130)], [("view", 140)],
    ]),
    "strict": (None, [
        [("view", 1), ("view", 2)], [("click", 3), ("view", 4)],
        [("noise", 5)],
    ]),
    "all_matches": (10, [
        [("view", 10), ("view", 20)], [("click", 30)],
        [("view", 200), ("click", 210)],
    ]),
    "abandoned": (10, [
        [("click", 10), ("purchase", 20), ("click", 50)], [("click", 200)],
        [("purchase", 230)],
    ]),
}

_AM_ROW = (
    '{{"p": {{{}}}, "R": null, "starts": [{}], "ivls": [], "n": {}, '
    '"q": 0, "tq": {{}}, "stops": {{}}}}'
)
_CHECKPOINT_LOG = {
    "first_match": [
        ((1, 10000, 10000, False), None),
        ((2, 10000, 30000, False), None),
        ((3, 10000, 60000, True), None),
        ((3, 10000, 60000, True), None),
    ],
    "first_match_ttl": [
        ((2, 10000, 30000, False), 111),
        ((3, 10000, 90000, True), 141),
        ((3, 10000, 90000, True), 141),
        (None, None),
        ((2, 310000, 320000, False), 411),
        (None, None),
    ],
    "timeouts": [
        ((2, 10000, 30000, False), 111),
        ((2, 10000, 30000, False), 111),
        ((2, 10000, 30000, True), None),
        ((2, 10000, 30000, True), None),
        ((2, 10000, 30000, True), None),
    ],
    "nfb_gap": [
        ((False, [30000], [1], [30000], None), 131),
        ((True, [], [], [], 50000), None),
        ((True, [], [], [], 50000), None),
    ],
    "nfb_tail": [
        ((False, [10000], [2], [20000], None), 111),
        ((False, [100000], [1], [100000], None), 201),
        (None, None),
    ],
    "nfb_tail_ttl": [
        ((False, [10000], [2], [20000], None), 111),
        ((True, [], [], [], 20000), 71),
        (None, None),
        ((False, [140000], [1], [140000], None), 241),
        (None, None),
    ],
    "strict": [
        ((["view", "view"], [1000, 2000]), None),
        ((["view"], [4000]), None),
        (None, None),
    ],
    "all_matches": [
        ((_AM_ROW.format(
            '"0|1|10000": null, "0|2|10000,20000": null, "0|1|20000": null',
            "", 0,
        ),), 121),
        ((_AM_ROW.format("", "10000, 20000", 2),), 11),
        ((_AM_ROW.format("", "", 2),), None),
        ((_AM_ROW.format("", "200000", 3),), 21),
        ((_AM_ROW.format("", "", 3),), None),
    ],
    "abandoned": [
        (([50], [20]), 150),
        (([50, 200], []), 150),
        (([200], []), 300),
        (([], [230]), 231),
        (None, None),
    ],
}

_STATE_SCHEMAS = {
    "CEP_STATE_SCHEMA": "step_idx INT, t1_us LONG, tprev_us LONG, done BOOLEAN",
    "CEP_NFB_STATE_SCHEMA": (
        "done BOOLEAN, p_t1 ARRAY<LONG>, p_stage ARRAY<INT>, "
        "p_tprev ARRAY<LONG>, end_us LONG"
    ),
    "CEP_AM_STATE_SCHEMA": "js STRING",
    "CEP_STRICT_STATE_SCHEMA": "types ARRAY<STRING>, ts_us ARRAY<LONG>",
    "ABANDONED_STATE_SCHEMA": (
        "pending ARRAY<BIGINT>, recent_purchases ARRAY<BIGINT>"
    ),
}


def test_keyed_cores_write_the_checkpointed_state_rows():
    """Checkpoint compatibility without a Spark restart: the state
    schemas, and the exact state row and timer every call leaves on a
    fixed input, equal what the pre-adapter GroupState functions
    wrote."""
    from flink_realtime_edu_spark.streaming import cep, stateful

    for name, schema in _STATE_SCHEMAS.items():
        module = stateful if name.startswith("ABANDONED") else cep
        assert getattr(module, name) == schema, name
    fns = _keyed_state_fns(ttl_us=50_000)
    for name, (delay, batches) in _CHECKPOINT_INPUT.items():
        frames = [_keyed_frame(b, ms_col=name == "abandoned") for b in batches]
        log: list = []
        _replay(fns[name], frames, delay, log)
        assert log == _CHECKPOINT_LOG[name], name


@FAST
@given(
    n=st.integers(min_value=0, max_value=700),
    ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 11025, 16000, 22050, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_codec_roundtrip_property(n, ch, rate, seed):
    """encode_wav → decode_wav is the identity on any int16 sample
    matrix — every frame count (odd byte lengths hit the RIFF pad
    path, zero frames the empty-data path), channel count and rate."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.wav import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    samples = rng.integers(-(2**15), 2**15, size=(n, ch)).astype(np.int16)
    got, got_rate = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate
    assert got.shape == (n, ch)
    assert np.array_equal(got, samples)


@FAST
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    c=st.integers(min_value=1, max_value=4),
    vary=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_codec_roundtrip_property(h, w, c, vary, seed):
    """encode_png → decode_png is the identity for every geometry and
    channel count, with and without per-row filter-type cycling (the
    five spec filters all appear once h ≥ 5)."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.png import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    out = decode_png(encode_png(img, vary_filters=vary))
    assert out.shape == img.shape and (out == img).all()


@given(
    n=st.integers(min_value=0, max_value=120),
    n_users=st.integers(min_value=1, max_value=6),
    m=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_times_equals_flattened_on_random_streams(spark, n, n_users, m, seed):
    """The load-bearing cep_times property on ADVERSARIAL streams
    (duplicate timestamps, missing steps, arbitrary interleavings):
    the block-native dense_rank plan is row-identical to
    cep_first_match over the flattened step list — including the
    equal-timestamp edge where both sides must treat the strictly-
    increasing chain as the block's m smallest DISTINCT timestamps."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_first_match, cep_times

    rng = random.Random(seed)
    types = ["click", "purchase", "view"]
    rows = [
        (
            i,
            # coarse second grid + small range => plenty of exact ties
            f"2024-01-01 00:00:{rng.randrange(50):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    blocks = [("click", m), ("purchase", 1)]
    flat = ["click"] * m + ["purchase"]
    a = sorted(map(tuple, cep_times(ev, blocks, "30 seconds").collect()))
    b = sorted(map(tuple, cep_first_match(ev, flat, "30 seconds").collect()))
    assert a == b


@given(
    n=st.integers(min_value=0, max_value=60),
    n_users=st.integers(min_value=1, max_value=4),
    mx1=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_all_matches_equals_bruteforce_enumeration(
    spark, n, n_users, mx1, seed
):
    """cep_all_matches (skip-till-any-match with range + optional
    quantifiers) against a brute-force recursive enumeration of every
    distinct event-set chain on adversarial random streams (duplicate
    timestamps, missing steps): identical chain sets, identical
    lexicographic ranking, identical per-key cap."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    blocks = [("click", 1, mx1), ("view", 0, 1), ("purchase", 1, 1)]
    within_us, cap = 30 * 1_000_000, 3

    def brute(evs: set[tuple[int, str]]) -> list[tuple[str, int]]:
        chains: set[tuple[int, ...]] = set()

        def rec(bi, taken, last, t1, chain):
            if bi == len(blocks):
                chains.add(tuple(chain))
                return
            etype, mn, mx = blocks[bi]
            if taken >= mn:
                rec(bi + 1, 0, last, t1, chain)
            if taken < mx:
                for ts, t in evs:
                    if t != etype or (last is not None and ts <= last):
                        continue
                    if t1 is not None and ts - t1 > within_us:
                        continue
                    rec(bi, taken + 1, ts, ts if t1 is None else t1, chain + [ts])

        rec(0, 0, None, None, [])
        return [
            ("|".join(map(str, c)), i + 1)
            for i, c in enumerate(sorted(chains)[:cap])
        ]

    epoch_2024 = 1704067200  # 2024-01-01 00:00:00 UTC
    expect = []
    for uid in range(n_users):
        evs = {
            ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            for _, s, u, t in rows
            if u == uid
        }
        expect += [(uid, cs, m) for cs, m in brute(evs)]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev, blocks, "30 seconds", max_matches_per_key=cap
        ).collect()
    )
    assert got == sorted(expect)


@given(
    n=st.integers(min_value=0, max_value=60),
    n_users=st.integers(min_value=1, max_value=4),
    mx1=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_iterative_condition_equals_bruteforce(
    spark, n, n_users, mx1, seed
):
    """Iterative conditions (Flink IterativeCondition) against a
    brute-force enumeration threading per-assignment running value
    aggregates on adversarial random streams (duplicate timestamps,
    duplicate (type, ts) pairs with different values — resolved
    MIN-per-triple, the declared identity): a chain is kept iff SOME
    block assignment satisfies every conditioned consumption, the
    seed is never conditioned, and block-1 conditions apply from its
    second slot. Identical chain sets, ranks, caps."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
            float(rng.randrange(10)),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    blocks = [("click", 1, mx1), ("view", 0, 1), ("purchase", 1, 1)]
    conditions = {1: "__v <= vmin + 2", 3: "__v > vsum / vcnt"}
    checks = {
        1: lambda v, s, c, mn, mx: v <= mn + 2,
        3: lambda v, s, c, mn, mx: v > s / c,
    }
    within_us, cap = 30 * 1_000_000, 3

    def brute(evs: dict[tuple[int, str], float]) -> list[tuple[str, int]]:
        chains: set[tuple[int, ...]] = set()

        def rec(bi, taken, last, t1, chain, vsum, vcnt, vmin, vmax):
            if bi == len(blocks):
                chains.add(tuple(chain))
                return
            etype, mn, mx = blocks[bi]
            if taken >= mn:
                rec(bi + 1, 0, last, t1, chain, vsum, vcnt, vmin, vmax)
            if taken < mx:
                for (ts, t), v in evs.items():
                    if t != etype or (last is not None and ts <= last):
                        continue
                    if t1 is not None and ts - t1 > within_us:
                        continue
                    chk = checks.get(bi + 1)
                    if chain and chk and not chk(v, vsum, vcnt, vmin, vmax):
                        continue
                    rec(
                        bi,
                        taken + 1,
                        ts,
                        ts if t1 is None else t1,
                        chain + [ts],
                        vsum + v,
                        vcnt + 1,
                        v if vmin is None else min(vmin, v),
                        v if vmax is None else max(vmax, v),
                    )

        rec(0, 0, None, None, [], 0.0, 0, None, None)
        return [
            ("|".join(map(str, c)), i + 1)
            for i, c in enumerate(sorted(chains)[:cap])
        ]

    epoch_2024 = 1704067200  # 2024-01-01 00:00:00 UTC
    expect = []
    for uid in range(n_users):
        evs: dict[tuple[int, str], float] = {}
        for _, s, u, t, v in rows:
            if u != uid:
                continue
            k = ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            evs[k] = min(evs[k], v) if k in evs else v
        expect += [(uid, cs, m) for cs, m in brute(evs)]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev,
            blocks,
            "30 seconds",
            max_matches_per_key=cap,
            conditions=conditions,
        ).collect()
    )
    assert got == sorted(expect)


@given(
    n=st.integers(min_value=0, max_value=60),
    n_users=st.integers(min_value=1, max_value=4),
    mx1=st.integers(min_value=2, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_consecutive_equals_bruteforce(spark, n, n_users, mx1, seed):
    """Looping-block contiguity (Flink times(m,n).consecutive())
    against a brute-force enumeration threading per-assignment event
    RANKS on adversarial random streams (duplicate timestamps — the
    rank's (ts, type) tie order is the declared determinism): a
    consecutive block's 2nd..nth occurrences must have rank exactly
    prev + 1, the block's first occurrence relates to the previous
    block relaxedly, and a chain is kept iff SOME assignment
    satisfies the contiguity. Identical chain sets, ranks, caps."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    blocks = [("click", 2, mx1), ("purchase", 1, 1)]
    consecutive = {1}
    within_us, cap = 30 * 1_000_000, 3

    def brute(evs: set[tuple[int, str]]) -> list[tuple[str, int]]:
        ranked = {
            e: i + 1 for i, e in enumerate(sorted(evs))  # (ts, type) order
        }
        chains: set[tuple[int, ...]] = set()

        def rec(bi, taken, last, t1, chain, lastr):
            if bi == len(blocks):
                chains.add(tuple(chain))
                return
            etype, mn, mx = blocks[bi]
            if taken >= mn:
                rec(bi + 1, 0, last, t1, chain, lastr)
            if taken < mx:
                for e in evs:
                    ts, t = e
                    if t != etype or (last is not None and ts <= last):
                        continue
                    if t1 is not None and ts - t1 > within_us:
                        continue
                    if (
                        bi + 1 in consecutive
                        and taken >= 1
                        and ranked[e] != lastr + 1
                    ):
                        continue
                    rec(
                        bi,
                        taken + 1,
                        ts,
                        ts if t1 is None else t1,
                        chain + [ts],
                        ranked[e],
                    )

        rec(0, 0, None, None, [], None)
        return [
            ("|".join(map(str, c)), i + 1)
            for i, c in enumerate(sorted(chains)[:cap])
        ]

    epoch_2024 = 1704067200  # 2024-01-01 00:00:00 UTC
    expect = []
    for uid in range(n_users):
        evs = {
            ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            for _, s, u, t in rows
            if u == uid
        }
        expect += [(uid, cs, m) for cs, m in brute(evs)]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev,
            blocks,
            "30 seconds",
            max_matches_per_key=cap,
            consecutive=consecutive,
        ).collect()
    )
    assert got == sorted(expect)


@given(
    n=st.integers(min_value=0, max_value=50),
    n_users=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_iterative_and_consecutive_compose(spark, n, n_users, seed):
    """Iterative conditions AND looping contiguity on the SAME
    pattern: both thread per-slot state (value aggregates, ranks)
    through the same joins and the stop∪extend unions are positional
    in the oracle — a column-ordering or state-crosstalk bug shows up
    only when they compose. Brute force threads both."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
            float(rng.randrange(8)),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    blocks = [("click", 2, 3), ("purchase", 1, 1)]
    consecutive = {1}
    conditions = {2: "__v >= vmax"}
    chk2 = lambda v, s, c, mn, mx: v >= mx  # noqa: E731
    within_us, cap = 30 * 1_000_000, 3

    def brute(evs: dict[tuple[int, str], float]) -> list[tuple[str, int]]:
        ranked = {e: i + 1 for i, e in enumerate(sorted(evs))}
        chains: set[tuple[int, ...]] = set()

        def rec(bi, taken, last, t1, chain, lastr, vsum, vcnt, vmn, vmx):
            if bi == len(blocks):
                chains.add(tuple(chain))
                return
            etype, mn, mx = blocks[bi]
            if taken >= mn:
                rec(bi + 1, 0, last, t1, chain, lastr, vsum, vcnt, vmn, vmx)
            if taken < mx:
                for e, v in evs.items():
                    ts, t = e
                    if t != etype or (last is not None and ts <= last):
                        continue
                    if t1 is not None and ts - t1 > within_us:
                        continue
                    if (
                        bi + 1 in consecutive
                        and taken >= 1
                        and ranked[e] != lastr + 1
                    ):
                        continue
                    if chain and bi + 1 == 2 and not chk2(v, vsum, vcnt, vmn, vmx):
                        continue
                    rec(
                        bi,
                        taken + 1,
                        ts,
                        ts if t1 is None else t1,
                        chain + [ts],
                        ranked[e],
                        vsum + v,
                        vcnt + 1,
                        v if vmn is None else min(vmn, v),
                        v if vmx is None else max(vmx, v),
                    )

        rec(0, 0, None, None, [], None, 0.0, 0, None, None)
        return [
            ("|".join(map(str, c)), i + 1)
            for i, c in enumerate(sorted(chains)[:cap])
        ]

    epoch_2024 = 1704067200
    expect = []
    for uid in range(n_users):
        evs: dict[tuple[int, str], float] = {}
        for _, s, u, t, v in rows:
            if u != uid:
                continue
            k = ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            evs[k] = min(evs[k], v) if k in evs else v
        expect += [(uid, cs, m) for cs, m in brute(evs)]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev,
            blocks,
            "30 seconds",
            max_matches_per_key=cap,
            conditions=conditions,
            consecutive=consecutive,
        ).collect()
    )
    assert got == sorted(expect)


@given(
    n=st.integers(min_value=0, max_value=50),
    n_users=st.integers(min_value=1, max_value=3),
    strategy=st.sampled_from(
        [
            ("skip_to_next", None),
            ("skip_past_last_event", None),
            ("skip_to_first", 1),
            ("skip_to_first", 2),
            ("skip_to_first", 3),
            ("skip_to_last", 1),
            ("skip_to_last", 2),
            ("skip_to_last", 3),
        ]
    ),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_after_match_skip_equals_reference_selection(
    spark, n, n_users, strategy, seed
):
    """cep_after_match_skip (all five strategies, anchored ones at
    every block incl. the optional NULL-anchor block) vs a
    pure-Python reference on adversarial random streams:
    brute-force-enumerate every chain WITH block assignments, then
    apply the declared selection — skip_to_next = first-emitted
    (completion order) chain per start event, matching Flink's NFA
    emission; skip_past_last_event = completion-order walk keeping
    same-end ties that start after the previous resume point;
    skip_to_first/skip_to_last = completion-order walk accumulating
    discard intervals [match_start, anchor) where anchor is the
    min-over-assignments first/last event of the named block.
    Identical kept sets, ranks, and caps."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_after_match_skip

    strategy, skip_block = strategy
    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    blocks = [("click", 1, 2), ("view", 0, 1), ("purchase", 1, 1)]
    within_us, cap = 30 * 1_000_000, 3

    def brute(evs: set[tuple[int, str]]) -> dict[tuple[int, ...], int | None]:
        """chain -> anchor (min over assignments; None if the anchor
        block consumed no event in every assignment)."""
        chains: dict[tuple[int, ...], int | None] = {}

        def note(chain, anchor):
            c = tuple(chain)
            if c not in chains or (
                anchor is not None
                and (chains[c] is None or anchor < chains[c])
            ):
                chains[c] = anchor

        def rec(bi, taken, last, t1, chain, anchor):
            if bi == len(blocks):
                note(chain, anchor)
                return
            etype, mn, mx = blocks[bi]
            if taken >= mn:
                rec(bi + 1, 0, last, t1, chain, anchor)
            if taken < mx:
                for ts, t in evs:
                    if t != etype or (last is not None and ts <= last):
                        continue
                    if t1 is not None and ts - t1 > within_us:
                        continue
                    a = anchor
                    if skip_block is not None and bi + 1 == skip_block:
                        # "first": only the block's first consumed
                        # event sets the anchor; "last": every one does
                        a = ts if (
                            strategy == "skip_to_last" or taken == 0
                        ) else anchor
                    rec(
                        bi,
                        taken + 1,
                        ts,
                        ts if t1 is None else t1,
                        chain + [ts],
                        a,
                    )

        rec(0, 0, None, None, [], None)
        return chains

    def select(chains: dict[tuple[int, ...], int | None]):
        ordered = sorted(chains)
        if strategy == "skip_to_next":
            # first-EMITTED per start = completion order (earliest
            # end wins; end ties break chain-lexicographically)
            first_per_start: dict[int, tuple[int, ...]] = {}
            for c in sorted(ordered, key=lambda c: (c[-1], c)):
                first_per_start.setdefault(c[0], c)
            return sorted(first_per_start.values())
        by_end: dict[int, list[tuple[int, ...]]] = {}
        for c in ordered:
            by_end.setdefault(c[-1], []).append(c)
        kept: list[tuple[int, ...]] = []
        if strategy == "skip_past_last_event":
            # same-end ties emit iff they started after the resume
            # point in force when this end's batch opened
            resume = None
            for end in sorted(by_end):
                batch = [
                    c for c in by_end[end] if resume is None or c[0] > resume
                ]
                if batch:
                    kept.extend(batch)
                    resume = end
            return sorted(kept)
        # anchored walk: discard intervals [start, anchor)
        intervals: list[tuple[int, int]] = []
        for end in sorted(by_end):
            batch = [
                c
                for c in by_end[end]
                if not any(lo <= c[0] < hi for lo, hi in intervals)
            ]
            kept.extend(batch)
            for c in batch:
                a = chains[c]
                if a is not None and a > c[0]:
                    intervals.append((c[0], a))
        return sorted(kept)

    epoch_2024 = 1704067200  # 2024-01-01 00:00:00 UTC
    expect = []
    for uid in range(n_users):
        evs = {
            ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            for _, s, u, t in rows
            if u == uid
        }
        sel = select(brute(evs))[:cap]
        expect += [
            (uid, "|".join(map(str, c)), i + 1) for i, c in enumerate(sel)
        ]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_after_match_skip(
            ev,
            blocks,
            "30 seconds",
            strategy=strategy,
            max_matches_per_key=cap,
            skip_block=skip_block,
        ).collect()
    )
    assert got == sorted(expect)


@FAST
@given(
    bh=st.integers(min_value=1, max_value=5),
    bw=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_constant_blocks_roundtrip_exactly(bh, bw, seed):
    """The analytic-oracle property jpeg_decode_stats leans on: an
    image of CONSTANT 8x8 blocks survives the LOSSY baseline pipeline
    bit-exactly (only the DC coefficient is nonzero and the default
    table's q00 = 8 divides it evenly) — for every mosaic geometry
    and block coloring."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    blocks = rng.integers(0, 256, size=(bh, bw)).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == img.shape and np.array_equal(out, img)


@FAST
@given(
    n=st.integers(min_value=1, max_value=9),
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=4),
    every=st.integers(min_value=1, max_value=4),
    fps=st.integers(min_value=1, max_value=60),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_mjpeg_roundtrip_property(n, bw, bh, every, fps, seed):
    """Container walk + per-frame JPEG is exact on constant-block
    frames for every frame count, mosaic geometry, sampling stride
    and fps — and sampling keeps exactly the 0, every, 2*every, ...
    frame grid."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.avi import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )
    from flink_realtime_edu_spark.multimodal.jpeg import encode_jpeg

    rng = np.random.default_rng(seed)
    frames_px = [
        np.kron(
            rng.integers(0, 256, (bh, bw)).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )
        for _ in range(n)
    ]
    avi = encode_avi_mjpeg(
        [encode_jpeg(p) for p in frames_px], bw * 8, bh * 8, fps=fps
    )
    dec, got_fps = decode_avi_mjpeg(avi, every_nth=every)
    want = frames_px[::every]
    assert got_fps == fps
    assert len(dec) == len(want)
    assert all(np.array_equal(a, b) for a, b in zip(dec, want))


@FAST
@given(
    h=st.integers(min_value=1, max_value=3),
    w=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_color_constant_macroblocks_roundtrip_exactly(h, w, seed):
    """Color JPEG exactness property (both samplings): for an image
    of constant 16x16 RGB macroblocks, decode(encode(img)) equals
    ycbcr_to_rgb(rgb_to_ycbcr(img)) bit-for-bit — DC-only blocks per
    channel with q00 = 8 on both tables, constant chroma averaging to
    itself; per-component DC predictors and the interleave order get
    exercised by every macroblock boundary."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    rng = np.random.default_rng(seed)
    mb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    img = np.kron(mb, np.ones((16, 16, 1), dtype=np.uint8))
    expect = ycbcr_to_rgb(rgb_to_ycbcr(img))
    for sub in ("4:2:0", "4:4:4"):
        out = decode_jpeg(encode_jpeg(img, subsampling=sub))
        assert out.shape == img.shape and (out == expect).all()


@FAST
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_color_arbitrary_roundtrip_within_tolerance(h, w, seed):
    """Arbitrary (non-MCU-aligned) color images at unit quant tables:
    4:4:4 loses only color-transform + coefficient rounding (±4);
    4:2:0 with 2x2-constant chroma cells loses nothing more either —
    padding/cropping and chroma upsampling are pinned by shape."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    one = np.ones((8, 8), dtype=np.int64)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_jpeg(
        encode_jpeg(img, quant=one, chroma_quant=one, subsampling="4:4:4")
    )
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4
    cells = np.kron(
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8),
        np.ones((2, 2, 1), dtype=np.uint8),
    )
    out2 = decode_jpeg(encode_jpeg(cells, quant=one, chroma_quant=one))
    assert out2.shape == cells.shape
    assert np.abs(out2.astype(int) - cells.astype(int)).max() <= 4


@FAST
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@example(h=18, w=18, seed=25)  # the found |err|=2 witness, pinned
def test_jpeg_arbitrary_roundtrip_within_quant_tolerance(h, w, seed):
    """Arbitrary (non-block-aligned — the MCU edge-padding path)
    uint8 images round-trip through the full Huffman/DCT pipeline at
    a UNIT quant table: the only loss left is coefficient rounding.
    The tolerance is the ANALYTIC worst case, not the empirical one —
    the original ±1 claim was falsified by Hypothesis at
    (h=18, w=18, seed=25), which produces |err| = 2 on two pixels and
    is pinned below as a regression example. Per-coefficient rounding
    error is ≤ 0.5; through the IDCT it amplifies per pixel by at most
    (1/4)·S(x)·S(y) with S(x) = Σ_u c_u·|cos((2x+1)uπ/16)| ≤ 5.284,
    i.e. ≤ 0.5·(1/4)·5.284² ≈ 3.49, plus 0.5 for the final uint8
    rounding → |err| ≤ 4 guaranteed. The MEAN stays sub-unit (the
    rounding errors are independent), asserted separately so a real
    systematic defect (DC offset, level-shift bug) still fails fast.
    Also pins shape restoration after padding."""
    import numpy as np

    from flink_realtime_edu_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quant=np.ones((8, 8), dtype=np.int64)))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 4  # analytic bound, see docstring
    assert err.mean() <= 0.75  # systematic-defect tripwire


_NFB_CONFIGS: dict[str, tuple[list, str]] = {
    # gap negative between two positives (open interval)
    "gap": (["view", ("not", "click"), "purchase"], "30 seconds"),
    # trailing negative — emits only if the horizon closes silent
    "tail": (["click", "purchase", ("not", "view")], "15 seconds"),
    # both at once, plus a tail on a 3-step chain
    "both": (
        ["click", ("not", "view"), "purchase", ("not", "click")],
        "30 seconds",
    ),
}


@given(
    n=st.integers(min_value=0, max_value=60),
    n_users=st.integers(min_value=1, max_value=4),
    cfg=st.sampled_from(sorted(_NFB_CONFIGS)),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_not_followed_by_equals_bruteforce(spark, n, n_users, cfg, seed):
    """cep_not_followed_by vs a pure-Python reference on adversarial
    random streams (duplicate timestamps, missing steps) — the r8
    Flink-faithful semantics: one greedy partial per occurrence of the
    first positive type (horizon-pruned at every step), each negative
    kills only ITS chain (open gap interval between positives,
    (t_k, t1+within] for a trailing negative), and the key emits the
    first VALID chain in completion order (end ties toward the
    earliest start). Identical rows incl. duration rounding."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_not_followed_by

    steps, within = _NFB_CONFIGS[cfg]
    within_us = int(within.split()[0]) * 1_000_000
    pos = [s for s in steps if isinstance(s, str)]
    neg, np_seen = [], 0
    for s in steps:
        if isinstance(s, str):
            np_seen += 1
        else:
            neg.append((np_seen, s[1]))
    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    epoch_2024 = 1704067200  # 2024-01-01 00:00:00 UTC
    k = len(pos)
    expect = []
    for uid in range(n_users):
        evs = [
            ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            for _, s, u, t in rows
            if u == uid
        ]
        valid: list[tuple[int, int]] = []  # (end, start) of valid chains
        for t1 in sorted({t for t, ty in evs if ty == pos[0]}):
            horizon = t1 + within_us
            chain = [t1]
            for p in pos[1:]:
                cand = [
                    t
                    for t, ty in evs
                    if ty == p and t > chain[-1] and t <= horizon
                ]
                if not cand:
                    chain = None
                    break
                chain.append(min(cand))
            if chain is None:
                continue
            ok = True
            for g, etype in neg:
                lo = chain[g - 1]
                hi = chain[g] if g < k else horizon
                for t, ty in evs:
                    if ty == etype and t > lo and (
                        t < hi if g < k else t <= hi
                    ):
                        ok = False
                        break
                if not ok:
                    break
            if ok:
                valid.append((chain[-1], t1))
        if valid:
            end, t1 = min(valid)  # completion order, earliest-start ties
            expect.append((uid, t1, end, round((end - t1) / 1e6, 6)))
    got = sorted(
        (r.user_id, r.s, r.e, r.duration_s)
        for r in cep_not_followed_by(ev, steps, within)
        .select(
            "user_id",
            F.unix_micros("start_ts").alias("s"),
            F.unix_micros("end_ts").alias("e"),
            "duration_s",
        )
        .collect()
    )
    assert got == sorted(expect)


_NN_CONFIGS: dict[str, list] = {
    # exactly-two run: trailing negative satisfied by stream end too
    "pair": ["click", "click", ("not", "click")],
    # negative sharing the middle position with the next positive
    "mid": ["click", ("not", "view"), "purchase"],
    # two consecutive negatives constraining the same shared position
    "double": ["view", ("not", "click"), ("not", "purchase"), "view"],
}


@given(
    n=st.integers(min_value=0, max_value=60),
    n_users=st.integers(min_value=1, max_value=4),
    cfg=st.sampled_from(sorted(_NN_CONFIGS)),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_not_next_equals_bruteforce(spark, n, n_users, cfg, seed):
    """cep_not_next vs a pure-Python walk over the (ts, event_id)
    sorted per-key stream: a negative constrains (without consuming)
    the position the next step occupies, a trailing negative is
    satisfied when the stream simply ends, and every matching start
    position is reported — on streams dense with duplicate
    timestamps so the tiebreak order is load-bearing."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_not_next

    steps = _NN_CONFIGS[cfg]
    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(20):02d}",
            rng.randrange(n_users),
            rng.choice(types),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    epoch_2024 = 1704067200
    expect = []
    for uid in range(n_users):
        stream = sorted(
            ((epoch_2024 + int(s[-2:])) * 1_000_000, eid, t)
            for eid, s, u, t in rows
            if u == uid
        )
        for i in range(len(stream)):
            off, ok = 0, True
            for s in steps:
                at = stream[i + off] if i + off < len(stream) else None
                if isinstance(s, str):
                    if at is None or at[2] != s:
                        ok = False
                        break
                    off += 1
                elif at is not None and at[2] == s[1]:
                    ok = False
                    break
            if ok:
                expect.append((uid, stream[i][0], stream[i + off - 1][0]))
    got = sorted(
        (r.user_id, r.s, r.e)
        for r in cep_not_next(
            ev, steps, key_col="user_id", order_cols=["event_id"]
        )
        .select(
            "user_id",
            F.unix_micros("start_ts").alias("s"),
            F.unix_micros("end_ts").alias("e"),
        )
        .collect()
    )
    assert got == sorted(expect)


def _brute_unbounded(
    evs: dict[tuple[int, str], float],
    blocks,
    within_us: int,
    cap: int,
    until_block: int | None = None,
    stop_thr: float | None = None,
    greedy_block: int | None = None,
) -> list[tuple[str, int]]:
    """Independent enumeration of the unbounded-loop declared
    semantics: stops/contiguity/leads computed by direct scans over
    sorted per-type lists (no windows, no joins, no slot bound — the
    recursion runs to the data's own fixpoint, so an operator bound
    bug that dropped long runs would diverge here)."""
    stops = sorted(
        ts
        for (ts, _), v in evs.items()
        if stop_thr is not None and v > stop_thr
    )
    by_type: dict[str, list[int]] = {}
    for ts, t in evs:
        by_type.setdefault(t, []).append(ts)
    for t in by_type:
        by_type[t].sort()

    def gap_clear(a: int, b: int) -> bool:
        return not any(a < u < b for u in stops)

    def next_of_type(t: str, ts: int) -> int | None:
        lst = by_type.get(t, [])
        for x in lst:
            if x > ts:
                return x
        return None

    chains: set[tuple[int, ...]] = set()

    def rec(bi, taken, last, t1, chain, gap_from, lead_set, lead_ts):
        if bi == len(blocks):
            chains.add(tuple(chain))
            return
        etype, mn, mx = blocks[bi]
        b1 = bi + 1
        if taken >= mn:
            rec(bi + 1, 0, last, t1, chain, gap_from, lead_set, lead_ts)
        if mx is not None and taken >= mx:
            return
        for (ts, t), v in evs.items():
            if t != etype or (last is not None and ts <= last):
                continue
            if t1 is not None and ts - t1 > within_us:
                continue
            if until_block is not None:
                # stop-ness is a property of the EVENT, not its
                # timestamp — a loop candidate may share a ts with a
                # stop event of another type and stay consumable
                if b1 == until_block and stop_thr is not None and v > stop_thr:
                    continue  # the loop never consumes a stop
                if (
                    b1 >= until_block
                    and gap_from is not None
                    and not gap_clear(gap_from, ts)
                ):
                    continue
            if (
                greedy_block is not None
                and b1 > greedy_block
                and lead_set
                and lead_ts is not None
                and lead_ts <= (t1 + within_us)
                and lead_ts < ts
            ):
                continue  # a consumable loop candidate was skipped
            if mx is None and taken >= 1:
                # relaxed-loop run contiguity: the immediately-next
                # same-type event must be this one
                if next_of_type(etype, last) != ts:
                    continue
            rec(
                bi,
                taken + 1,
                ts,
                ts if t1 is None else t1,
                chain + [ts],
                ts
                if (until_block is not None and b1 <= until_block)
                else None,
                greedy_block is not None and b1 == greedy_block,
                next_of_type(etype, ts)
                if (greedy_block is not None and b1 == greedy_block)
                else None,
            )

    rec(0, 0, None, None, [], None, False, None)
    return [
        ("|".join(map(str, c)), i + 1)
        for i, c in enumerate(sorted(chains)[:cap])
    ]


@given(
    n=st.integers(min_value=0, max_value=55),
    n_users=st.integers(min_value=1, max_value=3),
    mn=st.integers(min_value=1, max_value=2),
    loop_first=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_until_unbounded_equals_bruteforce(
    spark, n, n_users, mn, loop_first, seed
):
    """Flink oneOrMore()/timesOrMore(m) + until() against a brute
    force that recurses to the data's own fixpoint on adversarial
    random streams (duplicate timestamps — ties exercise the
    strictly-after next-stop rule and the same-ts no-kill rule):
    runs are contiguous same-type candidates, the loop never consumes
    a stop, a stop strictly inside any gap from the last pre-loop
    event through the first post-loop consumption kills the chain,
    and the operator's DATA-DEPENDENT slot bound must reach every
    run the unbounded recursion reaches."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
            float(rng.randrange(8)),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    if loop_first:
        blocks = [("click", mn, None), ("purchase", 1, 1)]
        until_block = 1
    else:
        blocks = [("view", 1, 1), ("click", mn, None), ("purchase", 1, 1)]
        until_block = 2
    until = {until_block: "__v > 5"}
    within_us, cap = 30 * 1_000_000, 4

    epoch_2024 = 1704067200
    expect = []
    for uid in range(n_users):
        evs: dict[tuple[int, str], float] = {}
        for _, s, u, t, v in rows:
            if u != uid:
                continue
            k = ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            evs[k] = min(evs[k], v) if k in evs else v
        expect += [
            (uid, cs, m)
            for cs, m in _brute_unbounded(
                evs,
                blocks,
                within_us,
                cap,
                until_block=until_block,
                stop_thr=5.0,
            )
        ]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev,
            blocks,
            "30 seconds",
            max_matches_per_key=cap,
            until=until,
        ).collect()
    )
    assert got == sorted(expect)


@given(
    n=st.integers(min_value=0, max_value=55),
    n_users=st.integers(min_value=1, max_value=3),
    with_until=st.booleans(),
    loop_first=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_cep_greedy_equals_bruteforce(
    spark, n, n_users, with_until, loop_first, seed
):
    """Flink oneOrMore().greedy() — alone and COMPOSED with until()
    — against the fixpoint brute force: only maximal runs survive
    (the run's next candidate is absent, beyond the chain's horizon,
    or at-or-after the proceed event), with stop events composing
    through the same gap rule rather than a special case."""
    import random

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = [
        (
            i,
            f"2024-01-01 00:00:{rng.randrange(40):02d}",
            rng.randrange(n_users),
            rng.choice(types),
            float(rng.randrange(8)),
        )
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    if loop_first:
        blocks = [("view", 1, None), ("purchase", 1, 1)]
        g = 1
    else:
        blocks = [("click", 1, 1), ("view", 1, None), ("purchase", 1, 1)]
        g = 2
    until = {g: "__v > 5"} if with_until else None
    within_us, cap = 30 * 1_000_000, 4

    epoch_2024 = 1704067200
    expect = []
    for uid in range(n_users):
        evs: dict[tuple[int, str], float] = {}
        for _, s, u, t, v in rows:
            if u != uid:
                continue
            k = ((epoch_2024 + int(s[-2:])) * 1_000_000, t)
            evs[k] = min(evs[k], v) if k in evs else v
        expect += [
            (uid, cs, m)
            for cs, m in _brute_unbounded(
                evs,
                blocks,
                within_us,
                cap,
                until_block=g if with_until else None,
                stop_thr=5.0 if with_until else None,
                greedy_block=g,
            )
        ]
    got = sorted(
        (r.user_id, r.chain_str, r.match_no)
        for r in cep_all_matches(
            ev,
            blocks,
            "30 seconds",
            max_matches_per_key=cap,
            until=until,
            greedy={g},
        ).collect()
    )
    assert got == sorted(expect)


# ---------------------------------------------------------------------------
# X7 trained quality classifier: cross-engine fuzz of the quantized fit
# ---------------------------------------------------------------------------
_qc_word = st.sampled_from("alpha beta gamma delta eps zeta".split())
_qc_doc = st.tuples(
    st.sampled_from(["src0", "raw"]),
    st.lists(_qc_word, min_size=0, max_size=20),
)


@pytest.mark.slow  # ~6 min: full 6-step fit on BOTH engines per example
@given(rows=st.lists(_qc_doc, min_size=3, max_size=14))
@SET
def test_quality_classifier_fit_matches_duckdb_replay(spark, rows):
    """Cross-engine fuzz of the integer-quantized logistic fit: on a
    random tiny corpus (tiny vocabulary → heavy feature collisions;
    repeated words → tie-prone c·1e6/n quantizations), the Spark
    driver-looped 6-step fit and the generated chained-CTE DuckDB
    replay must agree EXACTLY on every output row — the strongest
    form of the tie-hazard analysis in quality_classifier_fit's
    docstring (exactly-representable rational ties round identically
    in both engines; only σ's documented last-ulp class is
    transcendental, and it never fires at these magnitudes)."""
    import duckdb
    import pandas as pd

    from flink_realtime_edu_spark.queries.training import (
        _qc_oracle_sql,
        quality_classifier_frame,
    )

    pdf = pd.DataFrame(
        [(i, s, " ".join(ws)) for i, (s, ws) in enumerate(rows)],
        columns=["doc_id", "source", "text"],
    )
    docs = spark.createDataFrame(
        [(int(r.doc_id), r.source, r.text) for r in pdf.itertuples()],
        "doc_id long, source string, text string",
    )
    got = quality_classifier_frame(docs)
    spark_cols = got.columns
    spark_rows = sorted(
        (tuple(r[c] for c in sorted(spark_cols)) for r in got.collect()),
        key=repr,
    )

    con = duckdb.connect()
    con.register("documents", pdf)
    cur = con.execute(_qc_oracle_sql())
    duck_cols = [d[0] for d in cur.description]
    duck_rows = sorted(
        (
            tuple(row[duck_cols.index(c)] for c in sorted(duck_cols))
            for row in cur.fetchall()
        ),
        key=repr,
    )
    con.close()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert spark_rows == duck_rows

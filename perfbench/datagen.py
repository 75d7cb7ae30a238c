"""Seeded synthetic input tables and the ordered stream replay.

The engine's queries read ten parquet tables (``sources.TABLES``).
This module writes tables of the same schema, the same on-disk shapes
(one file and one row group per table, ``TIMESTAMP(MICROS,
isAdjustedToUTC=false)`` timestamps) and the same value domains as the
engine's documented fixtures (FIXTURES.md), drawn from ``--seed`` with
numpy only. The same seed writes byte-identical inputs.

The replay helpers cut ``events`` into event-time-ordered parquet files
for the file-source stream: ``event_id`` is generated in ``ts`` order,
so contiguous ``event_id`` slices never move ``ts`` backwards, and a
far-future sentinel row in the last file drives the event-time
watermark past every pending timer before the stream drains.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table for the scale factors the workloads use. The
# LLM tables do not scale linearly in the fixtures (500 rows at both
# sf0.001 and sf0.01), which is kept here.
SIZES: dict[str, dict[str, int]] = {
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
                "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500},
    "sf0.01": {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
               "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500},
    "sf0.1": {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
              "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000},
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    d0, d1 = _us(lo) // _DAY_US, _us(hi) // _DAY_US
    return _ts(rng.integers(d0, d1 + 1, n) * _DAY_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_events(rng, n: int) -> pa.Table:
    """``n`` events over 30 days, ``ts`` strictly increasing with
    ``event_id`` (exponential gaps, microsecond precision)."""
    gaps = rng.exponential(1.0, n)
    span = 30 * _DAY_US - 60_000_000
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * span).astype(np.int64)
    offs += np.arange(n, dtype=np.int64)  # ties broken: strictly increasing
    n_users = max(n * 3 // 200, 1)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_us("2024-01-01") + offs),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_documents(rng, n: int) -> pa.Table:
    """Word-soup documents; one in twenty is a copy of an earlier
    document with a trailing ``dup`` word, so the near-duplicate
    operators have true positives at the fixtures' planted similarity
    (3-word-shingle Jaccard about 0.8 to 0.99)."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label offset."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.25 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def make_tables(sf: str, seed: int, names) -> dict[str, pa.Table]:
    """The requested tables at scale ``sf``. Every table draws from its
    own generator, so a table's content does not depend on which other
    tables are requested."""
    size = SIZES[sf]
    out: dict[str, pa.Table] = {}
    for name in sorted(names):
        rng = np.random.default_rng([seed % 2**63, sum(map(ord, name))])
        n = size.get(name, 0)
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            })
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            })
        elif name == "customer":
            out[name] = pa.table({
                "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
                "c_name": pa.array(_names("Customer", n)),
                "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
            })
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
                "s_name": pa.array(_names("Supplier", n)),
                "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            })
        elif name == "part":
            keys = np.arange(n, dtype=np.int64)
            out[name] = pa.table({
                "p_partkey": pa.array(keys),
                "p_name": pa.array([
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
                ]),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
                "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
            })
        elif name == "orders":
            out[name] = pa.table({
                "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, size["customer"], n, dtype=np.int64)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
            })
        elif name == "lineitem":
            out[name] = pa.table({
                "l_orderkey": pa.array(rng.integers(0, size["orders"], n, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, size["part"], n, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, size["supplier"], n, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
                "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
            })
        elif name == "events":
            out[name] = make_events(rng, n)
        elif name == "documents":
            out[name] = make_documents(rng, n)
        elif name == "embeddings":
            out[name] = make_embeddings(rng, n)
        else:
            raise KeyError(f"unknown table {name!r}")
    return out


def write_tables(out_dir: str, sf: str, seed: int, names) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each requested table;
    returns the bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name, table in make_tables(sf, seed, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        written[name] = os.path.getsize(path)
    return written


SENTINEL_EVENT_ID = 10**9
SENTINEL_USER = -1
SENTINEL_AFTER_US = 30 * _DAY_US


def replay_cuts(events: pa.Table, n_files: int, seed: int) -> list[int]:
    """Row offsets of the replay's file boundaries. Each interior cut is
    drawn from the seed within ±15 % of an even split and moved forward
    to the first row whose ``ts`` is strictly later than its
    predecessor's, so no row of a later file shares a timestamp with
    the previous file's maximum (a zero-delay watermark would drop it)."""
    rng = np.random.default_rng([seed % 2**63, 7])
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    n = len(ts)
    cuts = [0]
    for i in range(1, n_files):
        c = int(n * (i + rng.uniform(-0.15, 0.15)) / n_files)
        while c < n and ts[c] <= ts[c - 1]:
            c += 1
        cuts.append(max(c, cuts[-1] + 1))
    cuts.append(n)
    return cuts


def sentinel_row(events: pa.Table) -> pa.Table:
    """One ``noop`` event 30 days after the last event, for a user id
    no real event has: it never matches a pattern, but its timestamp
    moves the watermark beyond every pending chain's horizon."""
    last = events.column("ts").cast(pa.int64())[-1].as_py()
    return pa.table({
        "event_id": pa.array([SENTINEL_EVENT_ID], pa.int64()),
        "ts": _ts(np.array([last + SENTINEL_AFTER_US])),
        "user_id": pa.array([SENTINEL_USER], pa.int64()),
        "event_type": pa.array(["noop"]),
        "value": pa.array([0.0]),
        "props": pa.array(["{}"]),
    }, schema=events.schema)


def write_replay(events: pa.Table, src_dir: str, n_files: int, seed: int) -> list[str]:
    """Write the ordered replay files into ``src_dir`` and return their
    paths in replay order. File modification times are set one second
    apart so the file source lists them in replay order."""
    os.makedirs(src_dir, exist_ok=True)
    cuts = replay_cuts(events, n_files, seed)
    paths = []
    for i in range(n_files):
        part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
        if i == n_files - 1:
            part = pa.concat_tables([part, sentinel_row(events)])
        path = os.path.join(src_dir, f"replay-{i:03d}.parquet")
        pq.write_table(part, path, row_group_size=max(part.num_rows, 1))
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        paths.append(path)
    return paths

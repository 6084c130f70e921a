"""Seeded input generation: everything a run feeds the program is made here,
before the clock starts, from the workload seed alone.

Two families of inputs:

- ``write_registry_tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the registry entries read, with the
  same schemas and value domains as the repository's reference test data, at
  a chosen scale factor (numpy + pyarrow; no Spark job).
- ``sessions``/``increment``: 1m OHLCV sessions built the way the program's
  fake provider (``sources.fake``) builds them, and the daily deliveries the
  ingest workload sends. They are made in numpy rather than by calling the
  provider: its Spark plan costs more set-up time than a run can spend.
"""

from __future__ import annotations

import datetime as dt
import os

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NS_MIN = 60 * 10**9
NS_DAY = 86_400 * 10**9
#: 13:30 UTC, the regular-session open the fake provider uses.
SESSION_OPEN_NS = (13 * 3600 + 1800) * 10**9
SESSION_BARS = 390

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["blue", "hot", "large", "red", "small", "steel", "ring", "bolt", "gear", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the of and to in is agg batch big column customer data fast filter group hash "
    "join key line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def _epoch_days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def write_registry_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables as ``<out_dir>/<table>.parquet``;
    returns the row count of each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    words = np.array(_PART_WORDS)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(words[rng.integers(0, 5, n_part)], " "),
                words[rng.integers(5, 10, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    lo, hi = _epoch_days(dt.date(1995, 1, 1)), _epoch_days(dt.date(2001, 8, 1))
    odate = rng.integers(lo, hi + 1, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            # partial orders are rare, so gap_days finds days without any
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    okey = rng.integers(0, n_ord, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(odate[okey] + rng.integers(1, 122, n_li)),
        }
    )
    # events: a sorted arrival stream over 30 days at µs precision
    span_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_ev)) + _epoch_days(dt.date(2024, 1, 1)) * 86_400_000_000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(n))])
        for n in rng.integers(10, 110, n_doc)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    # embeddings: 10 label clusters, so near-duplicate pairs exist
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 2.5
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def trading_days(first: dt.date, n: int) -> list[dt.date]:
    """``n`` consecutive weekdays from ``first`` (inclusive)."""
    out, d = [], first
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def day_ns(day: dt.date) -> int:
    return _epoch_days(day) * NS_DAY


def sessions(syms: list[str], days: list[dt.date], seed: int, salt: int = 0) -> pa.Table:
    """One regular session of 1m bars per (symbol, day), built like the
    program's fake provider (``sources.fake``): base price 100 + (symbol
    hash % 1000)/10, a gaussian walk with σ = 2% of the base over the
    session, lognormal(8, 1.5) volumes, highs/lows clamped to keep OHLC
    consistent. ``salt`` draws a revised version of the same bars."""
    rng = np.random.default_rng([seed, 2, salt])
    n_sym, n_day = len(syms), len(days)
    shape = (n_sym, n_day, SESSION_BARS)
    base = 100.0 + np.array([zlib.crc32(s.encode()) % 1000 for s in syms]) / 10.0
    g = rng.normal(0.0, 1.0, shape)
    walk = base[:, None, None] * (1.0 + np.cumsum(g, axis=2) * 0.02 / np.sqrt(SESSION_BARS))
    open_ = np.maximum(walk, 0.01)
    close = np.maximum(open_ + rng.normal(0.0, 0.001, shape) * base[:, None, None], 0.01)
    spread = rng.uniform(0.0, 0.01, shape) * open_
    high = np.maximum(open_, close) + spread
    low = np.maximum(np.minimum(open_, close) - spread, 0.005)
    volume = (np.exp(8.0 + 1.5 * rng.normal(0.0, 1.0, shape)) + 100.0).astype(np.int64)
    opens = np.array([day_ns(d) + SESSION_OPEN_NS for d in days], dtype=np.int64)
    ts = opens[:, None] + np.arange(SESSION_BARS, dtype=np.int64)[None, :] * NS_MIN
    return pa.table(
        {
            "symbol": np.repeat(np.array(syms), n_day * SESSION_BARS),
            "ts_ns": np.tile(ts.reshape(-1), n_sym),
            "open": np.round(open_, 4).reshape(-1),
            "high": np.round(high, 4).reshape(-1),
            "low": np.round(low, 4).reshape(-1),
            "close": np.round(close, 4).reshape(-1),
            "volume": volume.reshape(-1),
        }
    )


def increment(syms: list[str], day: dt.date, prev_day: dt.date, seed: int,
              revised: int, stale: int) -> tuple[pa.Table, int, int]:
    """One daily ingest delivery: ``day``'s session, the last ``revised``
    minutes of ``prev_day`` again with revised values (keep-last must replace
    the landed rows), and the first ``stale`` minutes of ``prev_day``, which
    lie before the job window and must be dropped. Returns (bars, window
    start ns, window end ns)."""
    prev_open = day_ns(prev_day) + SESSION_OPEN_NS
    cut = prev_open + (SESSION_BARS - revised) * NS_MIN
    again = sessions(syms, [prev_day], seed, salt=1 + _epoch_days(day))
    ts = again["ts_ns"]
    out = pa.concat_tables([
        sessions(syms, [day], seed),
        again.filter(pc.greater_equal(ts, cut)),
        again.filter(pc.less(ts, prev_open + stale * NS_MIN)),
    ])
    return out, cut, day_ns(day) + NS_DAY

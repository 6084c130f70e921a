"""DuckDB recomputation of everything the benchmark checks.

The program's answers are compared as order-insensitive value sets: columns
ordered by name, integer/date/time columns widened to int64, floats to
float64 with NaN read as null, rows sorted on every column, then tested for
exact equality — the same strictness as the repository's oracle-parity test.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

NS_DAY = 86_400 * 10**9
DAILY_LABEL_NS = 48_600 * 10**9
FRAME_SECONDS = {"5m": 300, "15m": 900, "1h": 3600, "4h": 14400, "1d": 86400}
BAR_COLS = "symbol, ts_ns, open, high, low, close, volume"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    return con


def lake_relation(root: str, frame: str) -> str:
    """SQL relation over one frame of a Hive-partitioned bars lake."""
    return (
        f"(SELECT {BAR_COLS} FROM read_parquet('{root}/frame={frame}/*/*/*.parquet', "
        "hive_partitioning = true, union_by_name = true))"
    )


def staged_relation(*files: str) -> str:
    """SQL relation over staged input bars."""
    return f"(SELECT {BAR_COLS} FROM read_parquet([{', '.join(repr(f) for f in files)}]))"


def resample_sql(src: str, frame: str) -> str:
    """The reference resample (A1/A2) over ``src``."""
    w = FRAME_SECONDS[frame] * 10**9
    label = (
        f"ts_ns - ts_ns % {NS_DAY} + {DAILY_LABEL_NS}" if frame == "1d" else f"ts_ns - ts_ns % {w}"
    )
    return (
        f"SELECT symbol, {label} AS ts_ns, arg_min(open, ts_ns) AS open, max(high) AS high, "
        "min(low) AS low, arg_max(close, ts_ns) AS close, CAST(sum(volume) AS BIGINT) AS volume "
        f"FROM {src} GROUP BY ALL"
    )


def validation_sql(src: str, market_hours: bool) -> str:
    """The 13-rule validation suite over ``src`` → (symbol, ts_ns, reason)."""
    rules = [
        ("non_monotonic_timestamp", "prev_ts IS NOT NULL AND ts_ns <= prev_ts"),
        ("non_positive_price", "open <= 0 OR high <= 0 OR low <= 0 OR close <= 0"),
        ("negative_volume", "volume < 0"),
        ("ohlc_inconsistent",
         "high < open OR high < close OR high < low OR low > open OR low > close"),
        ("timestamp_not_minute_aligned", "ts_ns % 60000000000 <> 0"),
        ("zero_volume_with_movement", "volume = 0 AND open <> close"),
        ("extreme_price_movement",
         "prev_close IS NOT NULL AND prev_close > 0 AND abs(open - prev_close) / prev_close > 0.5"),
        ("volume_above_cap", "volume > 1000000000"),
        ("price_out_of_range", "low < 0.01 OR high > 100000.0"),
        ("sustained_zero_volume", "zv10 >= 5"),
        ("volume_spike", "pva20 IS NOT NULL AND volume > pva20 * 10"),
    ]
    if market_hours:
        sec = f"(ts_ns % {NS_DAY}) / 1e9"
        rules += [
            ("outside_market_hours", f"{sec} < 48600 OR {sec} > 72000"),
            ("weekend_bar", f"floor(ts_ns / {NS_DAY}.0) % 7 IN (2, 3)"),
        ]
    body = " UNION ALL ".join(
        f"SELECT symbol, ts_ns, '{reason}' AS reason FROM w WHERE {cond}" for reason, cond in rules
    )
    return (
        "WITH w AS (SELECT symbol, ts_ns, open, high, low, close, volume, "
        "LAG(ts_ns) OVER sw AS prev_ts, LAG(close) OVER sw AS prev_close, "
        "SUM(CASE WHEN volume = 0 THEN 1 ELSE 0 END) "
        "OVER (sw ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS zv10, "
        "AVG(CASE WHEN volume > 0 THEN volume END) "
        "OVER (sw ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS pva20 "
        f"FROM {src} WINDOW sw AS (PARTITION BY symbol ORDER BY ts_ns)) {body}"
    )


def register_tables(con, sf_dir: str, tables) -> None:
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def normalize(table: pa.Table) -> pa.Table:
    """Canonical form for order-insensitive exact comparison."""
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name)
        t = col.type
        if pa.types.is_floating(t) or pa.types.is_decimal(t):
            col = col.cast(pa.float64())
            col = pc.if_else(pc.is_nan(col), pa.scalar(None, pa.float64()), col)
        elif pa.types.is_date(t):
            col = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
        elif pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            col = col.cast(pa.int64())
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            col = col.cast(pa.string())
        cols[name] = col
    out = pa.table(cols)
    if out.num_rows == 0:
        return out
    return out.sort_by([(c, "ascending") for c in out.column_names])


def same(a: pa.Table, b: pa.Table) -> bool:
    a, b = normalize(a), normalize(b)
    return a.column_names == b.column_names and a.num_rows == b.num_rows and a.equals(b)


def lake_partitions(root: str) -> dict[str, int]:
    """Data-file count per partition directory of a lake (benchmark-side
    walk of the local filesystem)."""
    out: dict[str, int] = {}
    for d, _, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet") and not f.startswith((".", "_")))
        if n:
            out[d] = n
    return out


def tree_bytes(*roots: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )

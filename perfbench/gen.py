"""Seeded input generation. Every function here is a pure function of
its seed: the same seed writes byte-identical files and returns the
same request sequence, so two runs with one seed see the same inputs.

Files are written with pyarrow, never through Spark, so generation
costs no Spark jobs and stays out of the program's timings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COINS = 1000
# One day at the reference's 5-minute cadence would be 288 ticks; a
# third of a day keeps one request near 0.5 s on 4 cores so a run holds
# >=100 requests, and 96 partitions stay 3x above Spark's 32-path
# parallel-discovery threshold, so every table open runs a listing job.
BASE_TICKS = 64
BASE_DAY = dt.date(2023, 12, 31)
TICK_SECONDS = 300
# The ingest stream stamps batch b at 2024-01-01 + b seconds
# (run_ingest_stream's deterministic clock with trigger_seconds=1), so
# the base table must end before that day for stream ticks to win
# latest().
STREAM_DAY = dt.date(2024, 1, 1)
MARKER = "zzmarker"

_UTC = pa.timestamp("us", tz="UTC")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


class Market:
    """Per-coin price paths for the base table and the stream ticks.

    Prices follow a seeded random walk; a few coins carry NULL or zero
    market caps so the NULLS-FIRST ordering and the cap>0 filter of the
    dashboard rollups are exercised."""

    def __init__(self, seed: int, ticks: int):
        r = _rng(seed, 1)
        self.symbols = [f"c{i:04d}" for i in range(COINS)]
        self.names = [f"Coin {i}" for i in range(COINS)]
        base = np.exp(r.uniform(-3, 9, COINS))
        steps = r.normal(0.0, 0.004, (ticks, COINS))
        self.price = np.round(base * np.exp(np.cumsum(steps, axis=0)), 6)
        supply = np.exp(r.uniform(12, 21, COINS))
        cap = np.round(self.price * supply, 2)
        cap[:, ::97] = np.nan
        cap[:, 5::89] = 0.0
        self.cap = cap
        self.volume = np.round(cap * r.uniform(0.01, 0.3, (ticks, COINS)), 2)

    def tick_frame(self, t: int) -> pd.DataFrame:
        # NaN caps become NULLs when pyarrow converts the frame
        return pd.DataFrame(
            {
                "symbol": self.symbols,
                "name": self.names,
                "current_price": self.price[t],
                "market_cap": self.cap[t],
                "total_volume": self.volume[t],
            }
        )


def base_timestamp(t: int) -> dt.datetime:
    return dt.datetime.combine(BASE_DAY, dt.time.min) + dt.timedelta(seconds=TICK_SECONDS * t)


def stream_timestamp(batch_id: int) -> dt.datetime:
    return dt.datetime.combine(STREAM_DAY, dt.time.min) + dt.timedelta(seconds=batch_id)


def write_prices_table(market: Market, path: str, ticks: int = BASE_TICKS) -> None:
    """The ``ingest_batch`` layout: ``dt=<date>/batch=<epoch-seconds>``,
    one file per tick, ``event_id`` numbered per file as a one-partition
    write numbers it."""
    for t in range(ticks):
        ts = base_timestamp(t)
        batch = int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
        df = market.tick_frame(t)
        df["timestamp"] = pd.Timestamp(ts, tz="UTC")
        df["event_id"] = np.arange(COINS, dtype=np.int64)
        d = os.path.join(path, f"dt={ts.date().isoformat()}", f"batch={batch}")
        os.makedirs(d)
        table = pa.Table.from_pandas(df, preserve_index=False).cast(
            pa.schema(
                [
                    ("symbol", pa.string()), ("name", pa.string()),
                    ("current_price", pa.float64()), ("market_cap", pa.float64()),
                    ("total_volume", pa.float64()), ("timestamp", _UTC),
                    ("event_id", pa.int64()),
                ]
            )
        )
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def raw_tick_table(market: Market, t: int) -> pa.Table:
    """One poll result in the upstream raw schema: every coin at base
    tick ``BASE_TICKS + t`` plus the marker coin whose price is ``t``."""
    df = market.tick_frame(BASE_TICKS + t)
    marker = pd.DataFrame(
        {"symbol": [MARKER], "name": ["Marker"], "current_price": [float(t)],
         "market_cap": [None], "total_volume": [None]}
    )
    df = pd.concat([df, marker.astype(df.dtypes.to_dict())], ignore_index=True)
    return pa.Table.from_pandas(df, preserve_index=False)


def zipf_symbols(seed: int, stream: int, n: int, s: float = 1.1) -> list[str]:
    """``n`` symbol draws, Zipf-skewed over coins in a seeded rank order."""
    r = _rng(seed, stream)
    rank = r.permutation(COINS)
    p = 1.0 / np.arange(1, COINS + 1) ** s
    picks = r.choice(COINS, size=n, p=p / p.sum())
    return [f"c{rank[i]:04d}" for i in picks]


def request_sequence(seed: int, n: int, mix: dict[str, int], stream: int) -> list[tuple[str, str | None]]:
    """``n`` (kind, symbol) requests in blocks that each hold every kind
    exactly ``mix[kind]`` times, shuffled within the block, so any run
    sees the same composition; history requests carry a Zipf-drawn
    symbol, the others None."""
    r = _rng(seed, stream)
    block = [k for k, times in mix.items() for _ in range(times)]
    kinds = [k for _ in range(-(-n // len(block))) for k in r.permutation(block)][:n]
    syms = zipf_symbols(seed, stream + 1, n)
    return [(k, syms[i] if k == "history" else None) for i, k in enumerate(kinds)]


# ---- analytics tables ------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_analytics_tables(seed: int, out: str) -> None:
    """The ten registry tables in the TPC-H-like shape of the registry's test data, at about
    sf0.01 (60k lineitem rows), one parquet file each."""
    r = _rng(seed, 2)
    os.makedirs(out, exist_ok=True)

    def put(name: str, df: pd.DataFrame) -> None:
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out, f"{name}.parquet"))

    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_ev, n_users, n_docs, n_vec = 10000, 150, 500, 500
    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "nut", "screw", "spring"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail}))
    day0 = np.datetime64("1995-01-01")
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": (day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    partkey = r.integers(0, n_part, n_line).astype(np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["O", "F"], n_line),
        "l_shipdate": (day0 + r.integers(1, 2500, n_line).astype("timedelta64[D]")).astype("datetime64[us]")}))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(ts0 + r.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": r.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(8, 90)))))
    put("documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "zh", "de", "fr", "es"], n_docs),
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, n_vec)
    emb = centers[label] + r.normal(0.0, 0.8, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(emb),
        "label": label.astype(np.int32)}))

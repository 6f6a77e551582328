"""Expected API answers computed in pandas/Python from the benchmark's
own generated data, with the program's rounding rules: Spark rounds a
double HALF_UP on its decimal string, and the dashboard sums are exact
fixed-point sums at 4 decimals (operators/exact.py)."""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import gen

TOP_K = 7


def _round_half_up(x: float, places: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))


def _fixed4(x: float) -> int:
    return int(Decimal(repr(x * 10_000.0)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _opt(x: float) -> float | None:
    return None if np.isnan(x) else float(x)


def _cap_order_key(cap: float | None) -> tuple:
    return (cap is not None, -(cap or 0.0))


class Answers:
    """Answers for a table whose last tick is row ``tick`` of ``market``,
    stamped ``ts``; a stream tick also carries the marker coin priced at
    ``marker``."""

    def __init__(self, market: gen.Market, tick: int, ts: dt.datetime, marker: int | None = None):
        rows = []
        for i, sym in enumerate(market.symbols):
            rows.append((sym, market.names[i], float(market.price[tick, i]),
                         _opt(market.cap[tick, i]), _opt(market.volume[tick, i]), ts))
        if marker is not None:
            rows.append((gen.MARKER, "Marker", float(marker), None, None, ts))
        self.latest_rows = rows
        caps = sorted(
            ((r[3], r[0]) for r in rows if r[3] is not None and r[3] > 0),
            key=lambda c: (-c[0], c[1]),
        )
        segments = [(s.upper(), c) for c, s in caps[:TOP_K]]
        if len(caps) > TOP_K:
            segments.append(("Other", sum(_fixed4(c) for c, _ in caps[TOP_K:]) / 10_000.0))
        self.top = sorted(segments)
        total = float(sum(_fixed4(c) for _, c in segments)) / 10_000.0
        self.market = sorted((lab, c, _round_half_up(c / total * 100.0, 2)) for lab, c in segments)
        self.symbols = sorted(r[0] for r in rows)

    def check(self, kind: str, rows: list) -> str | None:
        """None when ``rows`` is this table's answer to ``kind``."""
        if kind == "latest":
            got = [tuple(r) for r in rows]
            if sorted(got, key=repr) != sorted(self.latest_rows, key=repr):
                return "latest rows differ"
            caps = [r[3] for r in got]
            if caps != sorted(caps, key=_cap_order_key):
                return "latest not ordered by market_cap desc nulls first"
            return None
        if kind == "top_symbols":
            ok = sorted(tuple(r) for r in rows) == self.top
        elif kind == "market_distribution":
            ok = sorted(tuple(r) for r in rows) == self.market
        elif kind == "symbols":
            ok = [r[0] for r in rows] == self.symbols
        else:
            raise ValueError(kind)
        return None if ok else f"{kind} differs"


def history_rows(market: gen.Market, symbol: str, ticks: range, stamp) -> list[tuple]:
    i = market.symbols.index(symbol)
    return [
        (symbol, market.names[i], float(market.price[t, i]), _opt(market.cap[t, i]),
         _opt(market.volume[t, i]), stamp(t))
        for t in ticks
    ]

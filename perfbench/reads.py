"""The reference's read path (/api/crypto, history, dashboard rollups)
as the API serves it: each request builds its DataFrame through
``PriceTracker`` and collects it."""

from __future__ import annotations

import threading
import time

from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker

from spans import Tracer

KINDS = ("latest", "history", "top_symbols", "market_distribution", "symbols")


class TracedTracker(PriceTracker):
    """Times every table open (``prices``) as a ``sources.open`` span."""

    def __init__(self, spark, table, tracer: Tracer):
        super().__init__(spark, table)
        self._tracer = tracer

    @property
    def prices(self):
        with self._tracer.span("sources.open"):
            return PriceTracker.prices.fget(self)


def build(tracker: PriceTracker, kind: str, symbol: str | None, day: str):
    if kind == "history":
        return tracker.history(symbol, day, day)
    return getattr(tracker, kind)()


def request(tracer: Tracer, tracker, kind: str, symbol: str | None, day: str):
    """One API request to its collected rows; returns (rows, df)."""
    with tracer.op(kind) as op:
        with tracer.span("api.build"):
            df = build(tracker, kind, symbol, day)
        with tracer.span("spark.action"):
            rows = df.collect()
        tracer.record_plan(op, df)
    return rows, df


def closed_loop(callers: int, seconds: float, next_request, serve_one) -> tuple[list[float], float]:
    """``callers`` threads each send their next request as soon as the
    previous one returns, until ``seconds`` have passed. ``serve_one``
    serves a request and returns a callable that checks its output; the
    check runs outside the timed interval. Returns the latencies and the
    elapsed wall time."""
    lat: list[float] = []
    lock = threading.Lock()
    errors: list[BaseException] = []
    t_end = time.perf_counter() + seconds

    def caller() -> None:
        try:
            while time.perf_counter() < t_end:
                req = next_request()
                t0 = time.perf_counter()
                result = serve_one(req)
                dt_s = time.perf_counter() - t0
                with lock:
                    lat.append(dt_s)
                result()
        except BaseException as e:  # re-raised in the main thread below
            errors.append(e)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=caller) for _ in range(callers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return lat, time.perf_counter() - t0

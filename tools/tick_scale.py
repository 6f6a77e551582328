"""How the API reads scale with the number of ticks in the prices table.

For each table size, generates a ``perfbench/gen.py`` prices table (1,000
coins per tick, one ``dt=/batch=`` leaf per tick), ingests one more tick
through ``PriceTracker.ingest_batch`` so the table has a current
``_latest/`` snapshot, and times the four snapshot-shaped reads
(``latest``, ``top_symbols``, ``market_distribution``, ``symbols``) and a
one-day ``history()``: once with the snapshot current, once with
``_latest/`` removed (the full-history window).  Each line is one read:
its Spark jobs and the median of the warm runs, after one cold run.
The ``ingest_batch`` line is a warm 1,000-coin poll (one new leaf each)
that folds into the held snapshot; the first poll, which seeds it with
one full read, is not timed.

    python tools/tick_scale.py [--ticks 64,1024,4096] [--reps 5]

Uses perfbench's session settings (fixed 2 GiB driver heap, local[all
cores]) and writes its tables under ``.perfbench/``, removed at the end.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys
import time
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import common  # noqa: E402
import gen  # noqa: E402

sys.path.insert(0, REPO)
from tests.conftest import jobs_run  # noqa: E402

KINDS = ("latest", "top_symbols", "market_distribution", "symbols", "history")


def timed_jobs(spark, group: str, fn) -> tuple[float, int]:
    """Seconds and Spark jobs of ``fn()``."""

    def timed() -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    return jobs_run(spark, group, timed)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ticks", default="64,1024,4096")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    common.configure_env()
    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
    from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import (
        SNAPSHOT_DIR,
        current_snapshot,
    )

    work = os.path.join(common.WORK, f"tick-scale-{os.getpid()}")
    spark, _ = common.start_session()
    print(f"{'ticks':>6} {'_latest/':<8} {'read':<20} {'jobs':>4} {'warm_s':>8}")
    try:
        for ticks in (int(t) for t in args.ticks.split(",")):
            table = os.path.join(work, f"prices-{ticks}")
            market = gen.Market(1, ticks + 1)
            gen.write_prices_table(market, table, ticks=ticks)
            tracker = PriceTracker(spark, table)
            frame = market.tick_frame(ticks)
            poll = frame.astype(object).where(frame.notna(), None).to_dict("records")
            poll_ts = gen.base_timestamp(ticks) + dt.timedelta(days=1)
            tracker.ingest_batch(poll, batch_ts=poll_ts)
            polls = [
                timed_jobs(spark, f"{ticks}-poll-{i}", lambda: tracker.ingest_batch(
                    poll, batch_ts=poll_ts + dt.timedelta(seconds=i + 1)))
                for i in range(args.reps)
            ]
            print(f"{ticks:>6} {'current':<8} {'ingest_batch':<20} {polls[-1][1]:>4} "
                  f"{median(s for s, _ in polls):>8.3f}", flush=True)
            day = gen.BASE_DAY.isoformat()
            calls = {kind: getattr(tracker, kind) for kind in KINDS}
            calls["history"] = lambda: tracker.history("c0000", day, day)
            for mode in ("current", "removed"):
                if mode == "removed":
                    shutil.rmtree(os.path.join(table, SNAPSHOT_DIR))
                if (current_snapshot(table) is not None) != (mode == "current"):
                    raise RuntimeError(f"{table}: snapshot is not {mode}")
                for kind, call in calls.items():
                    group = f"{ticks}-{mode}-{kind}"
                    timed_jobs(spark, f"{group}-cold", lambda: call().collect())
                    runs = [
                        timed_jobs(spark, f"{group}-{i}", lambda: call().collect())
                        for i in range(args.reps)
                    ]
                    print(f"{ticks:>6} {mode:<8} {kind:<20} {runs[-1][1]:>4} "
                          f"{median(s for s, _ in runs):>8.3f}", flush=True)
            shutil.rmtree(table)
    finally:
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

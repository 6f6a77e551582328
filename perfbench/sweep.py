"""One-off sustainable-rate sweep for ``ingest``: the workload at a few
fixed tick periods, readers running, one session. Writes
``perfbench/results/ingest_sweep.json`` with each rate's backlog and
freshness, which is how ingest.PERIOD_S was chosen.

    python3 perfbench/sweep.py [--seed N] [--seconds S] [--periods 4,2,1.5,1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--periods", default="4,2,1.5,1")
    args = ap.parse_args()
    common.configure_env()
    sys.path.insert(0, common.ROOT)
    import ingest
    from spans import Tracer

    spark, _ = common.start_session()
    rows = []
    try:
        for period in (float(p) for p in args.periods.split(",")):
            work = os.path.join(common.WORK, f"sweep-{period}")
            os.makedirs(work)
            out = common.Outcome()
            ingest.run(spark, args.seed, args.seconds, Tracer(spark, False), work, out, period=period)
            shutil.rmtree(work, ignore_errors=True)
            rows.append({
                "ticks_per_s": round(1.0 / period, 3), "period_s": period,
                "backlog_ticks": out.info["backlog_ticks"],
                "freshness_p50_s": out.info["freshness_p50_s"],
                "reader_p50_s": out.e2e["request_p50_s"],
                "reader_requests_per_s": out.e2e["requests_per_s"],
                "failed": out.failed, "attempted": out.attempted, "errors": out.errors,
            })
            print(json.dumps(rows[-1]), flush=True)
    finally:
        common.stop_session(spark)
    os.makedirs(os.path.join(common.ROOT, "perfbench", "results"), exist_ok=True)
    with open(os.path.join(common.ROOT, "perfbench", "results", "ingest_sweep.json"), "w") as f:
        json.dump({"seed": args.seed, "seconds": args.seconds, "readers": ingest.READERS,
                   "cpus": common.CPUS, "chosen_period_s": ingest.PERIOD_S, "rates": rows},
                  f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repo benchmark: one seeded workload against the program's public
entry points, every output checked.

    python3 perfbench/run.py --workload ingest|analytics \\
        --seed N --seconds S --trace 0|1

Prints a readable table of every metric, then, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans and counters to
``.perfbench/trace-<workload>-<seed>.json``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

E2E_UNITS = {"setup_s": "s", "work_p50_s": "s", "request_p50_s": "s",
             "requests_per_s": "1/s", "rss_peak_mb": "MB"}
WORKLOADS = ("ingest", "analytics")


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    common.configure_env()
    sys.path.insert(0, common.ROOT)
    # imports the program under test: fails here when the checkout lacks it
    workload = importlib.import_module(args.workload)
    from spans import Tracer

    work = os.path.join(common.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark, session_s = common.start_session()
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        out = common.Outcome()
        t0 = time.perf_counter()
        workload.run(spark, args.seed, args.seconds, tracer, work, out)
        out.e2e["setup_s"] += session_s
        out.e2e["rss_peak_mb"] = common.jvm_peak_rss_mb(spark)
        out.layers["session.start_s"] = session_s
        wall = time.perf_counter() - t0
    finally:
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_ratio = out.failed / max(1, out.attempted)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"wall {wall:.1f} s (plus session start {session_s:.1f} s)")
    for k, u in E2E_UNITS.items():
        print(f"  {k:<28} {out.e2e[k]:>14.4f} {u}")
    for k, v in out.info.items():
        print(f"  {k:<28} {v!s:>14}")
    print(f"  {'failed_ratio':<28} {failed_ratio:>14.4f} ratio ({out.failed}/{out.attempted})")
    for err in out.errors:
        print(f"  error: {err}")
    if args.trace:
        for k in common.LAYER_METRICS:
            out.layers.setdefault(k, 0.0)
            print(f"  {k:<28} {out.layers[k]:>14.4f} {layer_unit(k)}")
        with open(os.path.join(common.WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                       "e2e": out.e2e, "info": out.info, "layers": out.layers,
                       **tracer.dump()}, f, default=str)
        metrics = {k: {"value": out.layers[k], "unit": layer_unit(k)} for k in common.LAYER_METRICS}
    else:
        metrics = {k: {"value": out.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

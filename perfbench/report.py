"""Traced-run artifact: runs every workload untraced, traced, traced,
untraced on one seed and writes ``perfbench/results/traced.json`` with
the mean end-to-end numbers of each side, their ratio (the tracing
overhead as the end-to-end metrics see it, within host noise), the
tracer's own time inside each operation (the overhead measured
directly), every per-layer metric, and each span name's self time per
operation.

    python3 perfbench/report.py [--seed N] [--seconds S]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics")


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    report = {"seed": args.seed, "seconds": args.seconds, "cpus": len(os.sched_getaffinity(0)),
              "order": "untraced, traced, traced, untraced", "workloads": {}}
    for wl in WORKLOADS:
        plain, traced, dumps = [], [], []
        for trace in (0, 1, 1, 0):
            res = run(wl, args.seed, args.seconds, trace)
            if not trace:
                plain.append(res)
                continue
            traced.append(res)
            with open(os.path.join(ROOT, ".perfbench", f"trace-{wl}-{args.seed}.json")) as f:
                dumps.append(json.load(f))
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        e2e_plain = {k: mean([r["metrics"][k]["value"] for r in plain]) for k in plain[0]["metrics"]}
        e2e_traced = {k: mean([d["e2e"][k] for d in dumps]) for k in e2e_plain}
        ops = [op for d in dumps for op in d["ops"]]
        self_time: dict[str, float] = {}
        for d in dumps:
            for k, v in d["self_time_s"].items():
                self_time[k] = self_time.get(k, 0.0) + v / len(ops)
        report["workloads"][wl] = {
            "untraced": e2e_plain,
            "traced": e2e_traced,
            "traced_over_untraced": {k: e2e_traced[k] / v - 1.0 for k, v in e2e_plain.items()},
            "tracer_s_per_op": mean([op["trace_s"] for op in ops]),
            "tracer_share_of_op_time": sum(op["trace_s"] for op in ops)
            / sum(op["wall_s"] + op["trace_s"] for op in ops),
            "checks": {"untraced": [[r["attempted"], r["failed"]] for r in plain],
                       "traced": [[r["attempted"], r["failed"]] for r in traced]},
            "info": [d["info"] for d in dumps],
            "per_layer": {k: mean([r["metrics"][k]["value"] for r in traced]) for k in traced[0]["metrics"]},
            "self_time_per_op_s": self_time,
            "traced_ops": len(ops),
        }
        print(wl, json.dumps({k: v for k, v in report["workloads"][wl].items()
                              if k in ("traced_over_untraced", "tracer_s_per_op", "tracer_share_of_op_time")}),
              flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "traced.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

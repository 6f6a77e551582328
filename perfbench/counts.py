"""Job, stage and task counts of a fixed sequential operation list: one
request of each API read kind, then the ``analytics`` slice cold and
warm. Counts are the structural signal: they should repeat exactly
across fresh sessions, and tracing must not add jobs: a traced
operation's tagged jobs must be every job it started.

    python3 perfbench/counts.py            # compare fresh sessions,
                                           # write results/count_repeat.json
    python3 perfbench/counts.py --once 0|1 # one session, untraced/traced
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

SEED = 5


def once(trace: bool) -> dict:
    common.configure_env()
    sys.path.insert(0, common.ROOT)
    from __spark_entry__ import queries

    import analytics
    import gen
    import reads
    from spans import Tracer

    work = os.path.join(common.WORK, f"counts-{os.getpid()}")
    table, sf = os.path.join(work, "prices"), os.path.join(work, "sf")
    gen.write_prices_table(gen.Market(SEED, gen.BASE_TICKS), table)
    gen.write_analytics_tables(SEED, sf)
    spark, _ = common.start_session()
    jsc = spark.sparkContext._jsc.sc()

    def jobs_so_far() -> int:
        jsc.listenerBus().waitUntilEmpty(10_000)
        return jsc.statusStore().jobsList(None).size()

    ops = []
    try:
        tracer = Tracer(spark, trace)
        tracker = reads.TracedTracker(spark, table, tracer)
        registry = queries()
        day = gen.BASE_DAY.isoformat()
        plan = [(kind, None, lambda k=kind: reads.build(tracker, k, "c0000", day).collect())
                for kind in reads.KINDS]
        for _ in ("cold", "warm"):
            plan += [(name, family, lambda n=name: registry[n](spark, sf).groupBy().count().collect())
                     for name, family in analytics.SLICE]
        for name, family, call in plan:
            before = jobs_so_far()
            with tracer.op(name, family) as op:
                call()
            # every job the operation started, tagged or not
            delta = jobs_so_far() - before
            ops.append([name, delta] + ([op.jobs, op.stages, op.tasks] if op else []))
    finally:
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"ops": ops}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--once", type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.once is not None:
        print(json.dumps(once(bool(args.once))))
        return 0

    def fresh(trace: int) -> dict:
        res = subprocess.run([sys.executable, __file__, "--once", str(trace)],
                             capture_output=True, text=True, check=True)
        return json.loads(res.stdout.strip().splitlines()[-1])

    plain, a, b = fresh(0), fresh(1), fresh(1)
    ops = []
    for (name, jobs_0), (_, jobs_1, *c1), (_, jobs_2, *c2) in zip(plain["ops"], a["ops"], b["ops"]):
        ops.append({"op": name, "untraced_jobs": jobs_0, "session_1": c1, "session_2": c2,
                    "repeats": c1 == c2 and jobs_0 == jobs_1 == jobs_2,
                    # a traced operation's tagged jobs are all the jobs it ran
                    "tracing_adds_no_jobs": jobs_1 == c1[0] and jobs_2 == c2[0]})
    report = {
        "counts": "[jobs, stages, tasks] per operation in two fresh traced sessions, "
                  "and jobs in an untraced one; API read kinds, then the analytics slice cold and warm",
        "tracing_adds_no_jobs": all(o["tracing_adds_no_jobs"] for o in ops),
        "ops_not_repeating": [o["op"] for o in ops if not o["repeats"]],
        "ops": ops,
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "count_repeat.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "ops"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Layer shares of a query list: how a workload's time splits over the
layers, to compare a workload's short list with the longer list it was
drawn from, or one table scale with another.

    python3 perfbench/shares.py --list queries --seed 1 --table-scale 0.1
    python3 perfbench/shares.py --list relational_full --seed 1 --table-scale 1

One session, one untimed warm-up pass, then one traced pass. Prints, for
each query and for the whole pass, its traced wall time and the share of
it that each span kind took as self time (the shares of an operation sum
to 1; see trace.py), plus the streaming micro-batch task time. Every
result is checked against its oracle, as in a benchmark run. Not a
benchmark run: it prints no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, sandbox, workloads
from perfbench.run import Run, traced_pass
from perfbench.trace import NullTracer, Tracer

LISTS = {
    "queries": workloads.QUERIES,
    "relational_full": workloads.RELATIONAL_FULL,
    "corpus_full": workloads.CORPUS_FULL,
}
SPANS = ("op", "construct", "load_table", "fan_out", "materialize",
         "run_concurrently", "plan", "execute")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--list", required=True, choices=sorted(LISTS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--table-scale", type=float, default=inputs.TABLE_SCALE)
    args = ap.parse_args()

    work = os.path.join(os.getcwd(), ".perfbench_work", f"shares-{os.getpid()}")
    sandbox.isolate(work)
    data_dir = os.path.join(work, "data")
    try:
        inputs.gen_tables(data_dir, args.seed, args.table_scale)
        spark, queries, _ = sandbox.start_session("perfbench-shares")
        from mapreduce_spark.registry import get_oracles

        check = oracle.QueryOracle(data_dir, get_oracles())
        try:
            names = LISTS[args.list]
            ops = workloads.query_ops(spark, queries, names, data_dir, check)
            run = Run(spark)
            run.pass_(ops, NullTracer())
            traced_pass(run, ops, Tracer(spark))
        finally:
            check.close()
            sandbox.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if run.failed:
        print(f"perfbench: {run.failed} of {run.attempted} calls failed", file=sys.stderr)
        return 1
    rows = {}
    total: dict[str, float] = defaultdict(float)
    for name, t in zip(names, run.traces):
        wall = t.op.end - t.op.start
        row = {k: t.self_of(k) for k in SPANS}
        row["stream_task_s"] = t.stage_sum(sorted(t.stream_jobs)).task_s
        for k, v in row.items():
            total[k] += v
        total["wall_s"] += wall
        rows[name] = {"wall_s": round(wall, 3),
                      **{k: round(v / wall, 3) for k, v in row.items() if k in SPANS}}
    rows["TOTAL"] = {"wall_s": round(total["wall_s"], 3),
                     **{k: round(total[k] / total["wall_s"], 3) for k in SPANS}}
    rows["TOTAL"]["stream_task_s"] = round(total["stream_task_s"], 3)
    print(json.dumps({"list": args.list, "seed": args.seed, "table_scale": args.table_scale,
                      "failed": run.failed, "attempted": run.attempted, "queries": rows},
                     indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The repository benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 16 --trace 0

One process calls one operation at a time on `local[<cores>]` and waits
for its last row; nothing else loads the host. A run:

1. generates the workload's inputs from `--seed` under
   `.perfbench_work/` in the current directory;
2. sets up once (`session.get_spark` + `registry.get_queries`, the JVM
   launch included): `setup_s`. Once, not several times: each set-up is
   a fresh JVM of about 8 s on 4 cores, and two more per run do not fit
   the 3420 s that a full check of the benchmark may take;
3. runs an untimed warm-up pass (`warmup_s`), then
   `passes(--seconds)` timed passes; every operation's result
   is checked against its model after its clock stops, and any exception
   or mismatch counts as failed;
4. prints every metric by name and unit, and as its last line one JSON
   object `{"correct", "attempted", "failed", "metrics"}`: the
   end-to-end metrics with `--trace 0`, the per-layer metrics with
   `--trace 1`.

A `--trace 1` run adds as many traced passes, interleaved with the
untraced ones; the per-layer numbers are medians over the traced passes
and `trace.overhead_frac` compares the two kinds. See README.md in this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, sandbox, workloads
from perfbench.trace import NullTracer, Tracer, layer_metrics

# Untimed passes before the clock starts. The engine keeps warming for
# several passes (JIT): on 4 cores, `queries` passes ran 30, 15.3, 11.7
# and 9.9 s at seed 1, so each operation's figure is its best timed call
# (best_times).
WARMUP_PASSES = 1
# A warm `queries` pass takes about this long on 4 cores (`mr_jobs`:
# about 3.5 s). Both workloads time round(--seconds / PASS_S) passes.
PASS_S = 8.0
# A/B knobs that change what the engine does: a run with one set prints
# its numbers but no result line, and exits 2.
AB_KNOBS = (
    "SPARK_GRAFT_NO_FANOUT",
    "SPARK_GRAFT_NO_MATERIALIZE",
    "SPARK_GRAFT_SERIAL_BUILD",
    "SPARK_GRAFT_CCSTAR_LEGACY",
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

# Per pass, median over the traced passes unless the name says otherwise.
PER_LAYER = {
    "sources.load_table.calls": "count",
    "sources.load_table_s": "s",
    "sources.load_table.jobs": "count",
    "sources.fan_out.calls": "count",
    "sources.fan_out.spread": "frac",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "construct_s": "s",
    "construct.self_s": "s",
    "construct.jobs": "count",
    "build.materialize.calls": "count",
    "build.materialize_s": "s",
    "build.concurrent.calls": "count",
    "build.concurrent_s": "s",
    "build.jobs": "count",
    "build.task_s": "s",
    "build.shuffle_write_mb": "MB",
    "build.checkpoint_mb": "MB",
    "peak_rss_mb": "MB",
    "release.rdds": "count",
    "execute_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_s": "s",
    "execute.jvm_cpu_s": "s",
    "execute.off_cpu_s": "s",
    "execute.gc_s": "s",
    "execute.core_util": "frac",
    "execute.input_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.shuffle_write_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.output_mb": "MB",
    "execute.stage_max_task_s": "s",
    "mr.map_stage_s": "s",
    "mr.reduce_stage_s": "s",
    "stream.batch_jobs": "count",
    "stream.task_s": "s",
    "warmup_s": "s",
    "host.calib_before_s": "s",
    "host.calib_after_s": "s",
    "host.steal_frac": "frac",
    "trace.overhead_frac": "frac",
    "trace.jobs": "count",
    "trace.spans": "count",
    "failed_frac": "frac",
    # from the traced run's untraced passes, over per-operation best
    # times; per layer because they did not repeat within the 0.25 bound
    # between runs (README.md, "Metrics")
    "op_p50_s": "s",
    "op_tail_s": "s",
    "op_tail.pct": "%",
    "op_tail.n": "count",
}


def _knob_on(name: str) -> bool:
    return os.environ.get(name, "").strip().lower() not in ("", "0", "false", "no", "off")


def calibration(spark, rows: int = 1_000_000) -> float:
    """Host gauge: a fixed hash + shuffle-aggregate over synthetic rows,
    no table input, so it moves only with the host. Median of 3 after a
    warm-up."""
    import pyspark.sql.functions as F

    df = (
        spark.range(0, rows, 1, 8)
        .select(
            (F.xxhash64("id") % 200_000).alias("k"),
            (F.xxhash64("id", F.lit(1)) % 100_000).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    samples = []
    for _ in range(4):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples[1:])


def tree_hwm_mb(root_pid: int) -> float:
    """Summed high-water RSS of a process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot: the time this
    machine's virtual CPUs waited for the host."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def tail(times: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). Below 22 samples that percentile would
    not exceed the median, so the maximum is reported, as percentile 100.
    A workload has 2-7 operations, so `op_tail_s` is always its slowest
    operation's best time."""
    ds = sorted(times)
    n = len(ds)
    k = n - 11 if n >= 22 else n - 1
    return ds[k], 100.0 * (k + 1) / n, n


def passes(seconds: float) -> int:
    """Timed passes in a run, at least two. A count fixed by the
    arguments, not by a clock: one pass more or less in a still-warming
    engine moved every figure by 10-20% between runs."""
    return max(2, round(seconds / PASS_S))


def best_times(passes: list[list[float]]) -> list[float]:
    """Each operation's best time over the passes. On a shared host,
    interference and a still-warming JIT only ever slow a call, so the
    best of a few calls repeats at least as well between runs as their
    median (README.md, "Metrics")."""
    return [min(times) for times in zip(*passes)]


class Run:
    """The closed loop's client: calls, checks and counts operations."""

    def __init__(self, spark):
        self.spark = spark
        self.traces: list = []
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.release_rdds = 0
        self.checkpoint_mb = 0.0

    def call(self, op: workloads.Op, tracer) -> float:
        """One operation: call to last row, timed; then the check."""
        from mapreduce_spark.operators.artifacts import release_local_checkpoints

        self.attempted += 1
        result = None
        t0 = time.perf_counter()
        try:
            if tracer.enabled:
                with tracer.span("op") as rec:
                    result = op.run(tracer)
                elapsed = time.perf_counter() - t0
                self.traces.append(tracer.take_op(rec))
            else:
                result = op.run(tracer)
                elapsed = time.perf_counter() - t0
            op.check(result)
        except Exception:
            elapsed = time.perf_counter() - t0
            self.failed += 1
            print(f"perfbench: {op.name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        finally:
            if result is not None:
                op.cleanup(result)
        self.checkpoint_mb = max(self.checkpoint_mb, self.checkpoint_held_mb())
        self.release_rdds += release_local_checkpoints(self.spark)
        pid = sandbox.jvm_pid()
        if pid is not None:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(pid))
        return elapsed

    def checkpoint_held_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def pass_(self, ops, tracer) -> list[float]:
        self.traces = []
        return [self.call(op, tracer) for op in ops]


def traced_pass(run: Run, ops, tracer: Tracer) -> list[float]:
    tracer.install()
    try:
        return run.pass_(ops, tracer)
    finally:
        tracer.uninstall()


def build_ops(workload: str, spark, queries, data_dir: str, work: str):
    if workload == "mr_jobs":
        out_root = os.path.join(work, "mr_out")
        os.makedirs(out_root, exist_ok=True)
        return workloads.mr_ops(spark, data_dir, out_root), None
    from mapreduce_spark.registry import get_oracles

    check = oracle.QueryOracle(data_dir, get_oracles())
    return workloads.query_ops(spark, queries, workloads.QUERIES, data_dir, check), check


def environment(spark, calib: dict[str, float]) -> dict:
    from mapreduce_spark.session import RUNTIME_CONFS

    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": spark.version,
        "confs": dict(sorted(spark.sparkContext.getConf().getAll())),
        "sql_confs": {k: spark.conf.get(k) for k in sorted(RUNTIME_CONFS)},
        "knobs": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        **calib,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--table-scale", type=float, default=inputs.TABLE_SCALE)
    ap.add_argument("--text-bytes", type=int, default=inputs.MR_BYTES)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    sandbox.isolate(work)
    data_dir = os.path.join(work, "data")
    try:
        if workloads.WORKLOADS[args.workload] == "text":
            inputs.gen_text(data_dir, args.seed, args.text_bytes)
        else:
            inputs.gen_tables(data_dir, args.seed, args.table_scale)
        record = {
            "workload": args.workload, "seed": args.seed, "inputs": inputs.manifest(data_dir),
        }
        result = measure(args, work, data_dir, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sidecar = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, sidecar), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}")
    knobs = [k for k in AB_KNOBS if _knob_on(k)]
    if knobs:
        print(f"perfbench: {knobs} set; not an official result", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


def measure(args, work: str, data_dir: str, record: dict) -> dict:
    spark, queries, setup_s = sandbox.start_session("perfbench")
    run = Run(spark)
    check = None
    try:
        ops, check = build_ops(args.workload, spark, queries, data_dir, work)
        cores = spark.sparkContext.defaultParallelism
        calib = {"host.calib_before_s": calibration(spark)} if args.trace else {}

        t0 = time.perf_counter()
        record["warmup_passes"] = [run.pass_(ops, NullTracer()) for _ in range(WARMUP_PASSES)]
        warmup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else None
        timed_from = cpu_steal()
        plain: list[list[float]] = []
        traced: list[list[float]] = []
        layers: list[dict[str, float]] = []
        # a traced run adds as many traced passes, in the order
        # untraced, traced, traced, untraced, ..., so that the
        # still-warming engine favours neither kind in trace.overhead_frac
        n = passes(args.seconds)
        kinds = [False] * n if tracer is None else [i % 4 in (1, 2) for i in range(2 * n)]
        for traced_now in kinds:
            if traced_now:
                traced.append(traced_pass(run, ops, tracer))
                layers.append(layer_metrics(run.traces, cores))
            else:
                plain.append(run.pass_(ops, NullTracer()))
        steal_frac = steal_share(timed_from, cpu_steal())
        if args.trace:
            calib["host.calib_after_s"] = calibration(spark)
        record["environment"] = environment(spark, calib)
    finally:
        if check is not None:
            check.close()
        sandbox.stop_session(spark)

    best = best_times(plain)
    tail_s, tail_pct, n = tail(best)
    record.update(setup_s=setup_s, plain_passes=plain, traced_passes=traced)
    record["host.steal_frac"] = steal_frac
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(plain)} "
        f"op_tail=p{tail_pct:.1f} of {n} operations; "
        f"the host took {steal_frac:.1%} of CPU time during the timed passes",
    )
    if args.trace:
        metrics = {
            k: statistics.median(m.get(k, 0.0) for m in layers)
            for k in sorted(set().union(*layers))
        }
        metrics.update(calib)
        metrics.update({
            "warmup_s": warmup_s,
            "host.steal_frac": steal_frac,
            "trace.overhead_frac": sum(map(sum, traced)) / sum(map(sum, plain)) - 1,
            "build.checkpoint_mb": run.checkpoint_mb,
            "release.rdds": run.release_rdds / (WARMUP_PASSES + len(plain) + len(traced)),
            "failed_frac": run.failed / run.attempted,
            "op_p50_s": statistics.median(best),
            "op_tail_s": tail_s,
            "op_tail.pct": tail_pct,
            "op_tail.n": n,
            "peak_rss_mb": run.peak_rss_mb,
        })
        units = PER_LAYER
        values = {k: metrics.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        values = {"setup_s": setup_s, "wall_s": sum(best)}
    record["metrics"] = values
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())

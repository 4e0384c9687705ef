"""The benchmark's own checks. Not part of the engine's test suite:

    python -m pytest perfbench/tests -q

The smoke tests start Spark once per run at a tiny scale (about a minute
each on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads
from perfbench.trace import Span, _is_stream_batch, self_times


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_one_seed_gives_identical_inputs(tmp_path):
    for gen, kwargs in (
        (inputs.gen_tables, {"scale": 0.01}),
        (inputs.gen_text, {"total_bytes": 20_000}),
    ):
        a, b, c = (str(tmp_path / f"{gen.__name__}-{k}") for k in "abc")
        gen(a, 5, **kwargs)
        gen(b, 5, **kwargs)
        gen(c, 6, **kwargs)
        assert _same_tree(a, b)
        assert not _same_tree(a, c)


def test_tail_keeps_ten_samples_beyond():
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, n) == (29.0, 40)
    assert sum(1 for i in range(40) if i > value) == 10
    assert pct == 75.0
    # too few samples for a tail above the median: the maximum
    assert run.tail([float(i) for i in range(21)]) == (20.0, 100.0, 21)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def _span(name, parent, start, end):
    return Span(sid=name, name=name, parent=parent, start=start, job_lo=0, end=end)


def test_self_times_sum_to_op_wall():
    op = _span("op", None, 0.0, 10.0)
    construct = _span("construct", op, 1.0, 6.0)
    load = _span("load_table", construct, 1.5, 2.0)
    conc = _span("run_concurrently", construct, 3.0, 6.0)
    # two build threads overlapping on [4, 5]
    m1 = _span("m1", conc, 3.0, 5.0)
    m2 = _span("m2", conc, 4.0, 6.0)
    spans = [op, construct, load, conc, m1, m2]
    got = self_times(spans)
    assert sum(got.values()) == pytest.approx(10.0)
    assert got["op"] == pytest.approx(5.0)
    assert got["construct"] == pytest.approx(1.5)
    assert got["m1"] == pytest.approx(1.5) and got["m2"] == pytest.approx(1.5)
    assert got["run_concurrently"] == pytest.approx(0.0)


class _Opt:
    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _JobData:
    def __init__(self, description):
        self._description = _Opt(description)

    def description(self):
        return self._description


def test_stream_batches_are_only_jobs_under_their_run_id():
    run_id = "c545facd-42c2-4fda-8d3b-da3d5a95ee62"
    batch = _JobData(f"mem_q\nid = 1234\nrunId = {run_id}\nbatch = 0")
    assert _is_stream_batch(batch, run_id)
    # a job of an engine thread that lost our group is not a micro-batch
    assert not _is_stream_batch(_JobData(None), None)
    assert not _is_stream_batch(_JobData("collect at x.py:1"), "some-group")
    assert not _is_stream_batch(batch, "another-run")


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=300,
    )


TINY = ["--seconds", "0", "--table-scale", "0.02", "--text-bytes", "40000"]


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_workload_smoke(workload):
    proc = _bench(ROOT, "--workload", workload, "--seed", "3", "--trace", "0", *TINY)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_attributes_every_job():
    proc = _bench(ROOT, "--workload", "queries", "--seed", "3", "--trace", "1", *TINY)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["build.materialize.calls"] >= 1 and m["build.concurrent.calls"] >= 1
    assert m["sources.fan_out.calls"] >= 1 and m["sources.load_table.calls"] >= 1
    assert m["trace.jobs"] >= m["build.jobs"] + m["execute.jobs"] > 0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _bench(
        str(tmp_path), "--workload", "queries", "--seed", "1", "--seconds", "1", "--trace", "0"
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_ab_knob_gives_no_result():
    env = dict(os.environ, SPARK_GRAFT_NO_FANOUT="1")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_jobs", "--seed", "1",
         "--trace", "0", *TINY],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=300,
    )
    assert proc.returncode == 2
    assert "perfbench: wall_s" in proc.stdout and '"correct"' not in proc.stdout

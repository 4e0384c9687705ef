"""The benchmark's workloads: each is a fixed list of operations that one
client calls in turn, waiting for each one's last row.

An operation returns its result to the benchmark: a query's rows
(`collect`), or a MapReduce job's part files. The check against the
model runs after the clock stops.
"""

from __future__ import annotations

import itertools
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import oracle

# One list of DataFrame queries covering every query-side layer: short
# relational queries, where per-query fixed costs show (schema reads
# through sources.load_table, Catalyst, job scheduling); a streaming
# micro-batch fold; and two set-similarity pipelines over documents (the
# all-pairs traffic V-SMART-Join targets), where eager builds
# (operators.artifacts: materialize, run_concurrently), scan fan-out,
# Python/Arrow workers and index table writes dominate.
QUERIES = [
    "groupby_agg",
    "topk",
    "tpch_q6_forecast",
    "stream_window_counts",
    "bbit_jaccard_report",
    "dedup_index_persisted",
]

# The longer lists QUERIES was drawn from: at the sf0.1 shape a pass of
# each takes about 30 s and 85 s on 4 cores, too long to run 22 times
# per workload in a benchmark check. `shares.py` compares the layer mix
# of QUERIES with theirs (README.md, "Why these queries").
RELATIONAL_FULL = [
    "groupby_agg", "join_equi", "join_broadcast", "window_running", "wordcount",
    "topk", "agg_distinct", "text_stats", "tpch_q1_pricing", "tpch_q5_local_volume",
    "sessionize_batch", "tpch_q6_forecast", "pagerank_transitions", "window_ntile",
    "scd2_asof_join", "join_bloom_prefilter", "funnel_latency_stats",
    "scd2_history_with_deletes", "zorder_pruned_scan", "export_jsonl_shards",
]
CORPUS_FULL = [
    "dedup_minhash_lsh_scaled", "bbit_jaccard_report", "cdc_chunk_stats",
    "dedup_span_remove_scaled", "bpe_token_count", "cc_star_components",
    "similarity_ivfpq_adc_residual", "similarity_graph_beam_routed",
    "similarity_index_persisted", "knn_graph_scaled", "perplexity_bigram",
    "curation_pipeline",
]

# The reference's own contract: operators.mr.run_dir_job over text files.
MR_JOBS = [
    # name, mapper, reducer, reducers, env
    ("wordcount", "wc_map.py", "wc_reduce.py", 4, {}),
    ("grep", "grep_map.py", "grep_reduce.py", 2, {"GREP_QUERY": "data"}),
]

WORKLOADS = {
    "queries": "tables",
    "mr_jobs": "text",
}


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]  # tracer -> result
    check: Callable[[Any], None]  # result -> None, raises on a wrong result
    cleanup: Callable[[Any], None] = lambda result: None


def query_ops(spark, queries, names, data_dir, check: oracle.QueryOracle) -> list[Op]:
    def make(name):
        fn = queries[name]

        def run(tracer):
            with tracer.span("construct"):
                df = fn(spark, data_dir)
            with tracer.span("plan") as rec:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            if tracer.enabled:
                rec.extra["phases"] = _phases_ms(qe)
            with tracer.span("execute"):
                rows = df.collect()
            return df.columns, rows

        return Op(name, run, lambda res: check.check(name, *res))

    return [make(n) for n in names]


def _phases_ms(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def mr_ops(spark, input_dir: str, out_root: str) -> list[Op]:
    from mapreduce_spark.operators import mr

    counter = itertools.count()

    def make(name, mapper, reducer, reducers, env):
        if name == "grep":
            want = oracle.grep_model(input_dir, env["GREP_QUERY"])
        else:
            want = oracle.wordcount_model(input_dir)

        def run(tracer):
            out = os.path.join(out_root, f"{name}-{next(counter)}")
            mr.run_dir_job(
                spark, input_dir, out,
                f"python3 {mr.EXEC_DIR}/{mapper}",
                f"python3 {mr.EXEC_DIR}/{reducer}",
                num_reducers=reducers, env=env,
            )
            return out

        return Op(
            name,
            run,
            lambda out: oracle.check_parts(name, out, reducers, want),
            cleanup=lambda out: shutil.rmtree(out, ignore_errors=True),
        )

    return [make(*job) for job in MR_JOBS]

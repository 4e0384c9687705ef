"""MR-compat layer semantics (operators/mr.py).

Asserts the three contract points the reference's worker tests pin down:
empty-string keys survive (/root/reference/tests/test_worker_04.py:109-115),
each key lands in exactly one reduce partition (md5-mod-R,
worker/__main__.py:106-109), and reduce input is sorted within a partition
(worker/__main__.py:130-136) so reducers may rely on adjacency.
"""

from __future__ import annotations

from collections import Counter

from mapreduce_spark.operators.mr import EXEC_DIR, MapReduceJob, _md5_partition

WC = dict(
    mapper=f"python3 {EXEC_DIR}/wc_map.py",
    reducer=f"python3 {EXEC_DIR}/wc_reduce.py",
)


def test_wordcount_exact_counts(spark):
    lines = spark.sparkContext.parallelize(
        ["Hello World Bye World", "Hello Hadoop", "", "Goodbye Hadoop"], 2
    )
    out = MapReduceJob(**WC, num_reducers=2).run(lines).collect()
    got = Counter()
    for line in out:
        k, v = line.split("\t", 1)
        got[k] += int(v)
    assert got == Counter(
        {"hello": 2, "world": 2, "bye": 1, "hadoop": 2, "goodbye": 1, "": 1}
    )


def test_empty_string_key_from_blank_and_bracket_lines(spark):
    # wc_map tokenizes on space/tab/[/] like the reference's `tr '[ \t]'`:
    # "[x]" yields two empty segments plus "x".
    lines = spark.sparkContext.parallelize(["[x]"], 1)
    out = MapReduceJob(**WC, num_reducers=1).run(lines).collect()
    got = dict(line.split("\t", 1) for line in out)
    assert got == {"": "2", "x": "1"}


def test_each_key_in_exactly_one_partition(spark):
    words = [f"w{i}" for i in range(50)]
    lines = spark.sparkContext.parallelize([" ".join(words)] * 3, 3)
    job = MapReduceJob(**WC, num_reducers=4)
    out = job.run(lines)
    assert out.getNumPartitions() == 4
    per_part = out.mapPartitionsWithIndex(
        lambda i, it: (((line.split("\t", 1)[0], i), None) for line in it)
    ).keys().collect()
    homes: dict[str, set[int]] = {}
    for key, part in per_part:
        homes.setdefault(key, set()).add(part)
    for key, parts in homes.items():
        assert len(parts) == 1, f"key {key!r} split across partitions {parts}"
        # and it is the md5-mod-R partition the reference would pick
        assert parts == {_md5_partition(key) % 4}
    # every key produced exactly one reduced line
    assert len(per_part) == len(homes) == 50


def test_reduce_input_sorted_within_partition(spark):
    # identity reducer (cat) exposes the reducer's stdin: whole-line sorted.
    lines = spark.sparkContext.parallelize(
        ["b 1", "a 2", "c 3", "a 2", "b 9"], 2
    )
    job = MapReduceJob(
        mapper=f"python3 {EXEC_DIR}/wc_map.py", reducer="cat", num_reducers=2
    )
    parts = job.run(lines).glom().collect()
    assert len(parts) == 2
    for part in parts:
        assert part == sorted(part)


def test_grep_env_query(spark):
    lines = spark.sparkContext.parallelize(
        ["the Product line", "nothing here", "PRODUCTION values"], 2
    )
    job = MapReduceJob(
        mapper=f"python3 {EXEC_DIR}/grep_map.py",
        reducer=f"python3 {EXEC_DIR}/grep_reduce.py",
        num_reducers=1,
        env={"GREP_QUERY": "product"},
    )
    out = sorted(job.run(lines).collect())
    assert out == ["PRODUCTION values", "the Product line"]


def test_mr_submit_cli_reproduces_reference_golden(spark, tmp_path):
    """The reference user's exact submit invocation, flag for flag, on
    the Spark engine: output part files merge to the golden word count."""
    import pathlib
    import sys

    from tests.conftest import REF_CORRECT, REF_INPUT

    if not pathlib.Path(REF_INPUT).is_dir():
        import pytest

        pytest.skip("reference corpus not present")
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))
    import mr_submit

    out_dir = str(tmp_path / "output")
    rc = mr_submit.main(
        [
            "-i", REF_INPUT,
            "-o", out_dir,
            "-m", f"{REF_INPUT}/../exec/wc_map.sh",
            "-r", f"{REF_INPUT}/../exec/wc_reduce.sh",
            "--nmappers", "2",
            "--nreducers", "2",
        ]
    )
    assert rc == 0
    got = []
    for part in sorted(pathlib.Path(out_dir).glob("part-*")):
        got.extend(line for line in part.read_text().split("\n") if line)
    golden = [
        line
        for line in pathlib.Path(REF_CORRECT, "word_count_correct.txt")
        .read_text()
        .split("\n")
        if line
    ]
    assert sorted(got) == sorted(golden)

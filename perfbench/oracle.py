"""Correctness checks, run after each operation's clock has stopped.

Queries are compared with their registered DuckDB oracle SQL over the
same generated directory, in the canonical form of the repository's
correctness gate, `tools/check_correctness.py` (its `TABLES`, `canon`
and `df_to_rows`): columns sorted by name, rows sorted, values
canonicalized to strings. MapReduce jobs are compared with a
pure-Python word-count / grep model of the reference contract.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
from collections import Counter


class Mismatch(Exception):
    """An operation returned a result that differs from its model."""


class QueryOracle:
    """DuckDB over one generated table directory; expected results are
    computed once per query and cached."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        import duckdb

        from perfbench.inputs import load_tool

        self.gate = load_tool("check_correctness")
        self.con = duckdb.connect()
        for t in self.gate.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.oracles = oracles
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str):
        if name not in self._expected:
            rel = self.con.execute(self.oracles[name])
            cols = [d[0] for d in rel.description]
            self._expected[name] = self.gate.df_to_rows(cols, rel.fetchall())
        return self._expected[name]

    def check(self, name: str, cols: list[str], rows) -> None:
        want_cols, want = self.expected(name)
        got_cols, got = self.gate.df_to_rows(cols, rows)
        if got_cols != want_cols:
            raise Mismatch(f"{name}: columns {got_cols} != {want_cols}")
        if len(got) != len(want):
            raise Mismatch(f"{name}: {len(got)} rows != {len(want)}")
        if got != want:
            bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            raise Mismatch(f"{name}: row {bad} {got[bad]} != {want[bad]}")

    def close(self) -> None:
        self.con.close()


# --- MapReduce reference model ------------------------------------------
_WC_SPLIT = re.compile(r"[ \t\[\]]")


def _input_lines(input_dir: str):
    for path in sorted(glob.glob(os.path.join(input_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield line.rstrip("\n")


def wordcount_model(input_dir: str) -> list[str]:
    """`key\\tcount` lines: every segment between {space, tab, [, ]}
    counts, the empty segment included, lowercased."""
    counts = Counter(
        tok for line in _input_lines(input_dir) for tok in _WC_SPLIT.split(line.lower())
    )
    return [f"{k}\t{v}" for k, v in counts.items()]


def grep_model(input_dir: str, query: str) -> list[str]:
    q = query.lower()
    return [line for line in _input_lines(input_dir) if q in line.lower()]


def _partition(key: str, reducers: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest(), 16) % reducers


def check_parts(name: str, out_dir: str, reducers: int, want: list[str]) -> None:
    """The reference's output contract: one `part-*` file per reducer,
    each key in partition md5(key) % R, each part sorted, and the union
    equal to the model's output."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if len(parts) != reducers:
        raise Mismatch(f"{name}: {len(parts)} part files != {reducers}")
    got: list[str] = []
    for idx, path in enumerate(parts):
        with open(path) as f:
            lines = [line.rstrip("\n") for line in f]
        if lines != sorted(lines):
            raise Mismatch(f"{name}: {os.path.basename(path)} is not sorted")
        if name == "wordcount":
            for line in lines:
                if _partition(line.split("\t", 1)[0], reducers) != idx:
                    raise Mismatch(f"{name}: key of {line!r} in part {idx}")
        got.extend(lines)
    if sorted(got) != sorted(want):
        raise Mismatch(
            f"{name}: {len(got)} output lines differ from the model's {len(want)}"
        )

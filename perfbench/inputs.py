"""Seeded benchmark inputs.

Tables come from the repository's own scale generator
(`tools/gen_scale_corpus.py`: `gen` for documents/embeddings, `gen_rel`
for the TPC-H-ish star schema and events), at the sf0.1 shape scaled by
`TABLE_SCALE`. The MapReduce workload gets plain text files from
`gen_text`. Everything derives from the benchmark's `--seed`; the engine
only ever sees the written files.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

import numpy as np

from perfbench.sandbox import ROOT

# sf0.1 shape: 5000 docs / 2000 vecs / 150k orders / 100k events.
SF01 = {"docs": 5000, "vecs": 2000, "orders": 150_000, "events": 100_000}
TABLE_SCALE = 0.1

MR_FILES = 8
MR_BYTES = 2_000_000  # total over all files
MR_BLANK_FRAC = 0.03  # blank lines: the empty-key case of the word count


def load_tool(name: str):
    """Import ``tools/<name>.py`` of the checkout by path (`tools/` is not
    a package)."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def gen_tables(out_dir: str, seed: int, scale: float = TABLE_SCALE) -> None:
    n = {k: max(1, int(v * scale)) for k, v in SF01.items()}
    gen = load_tool("gen_scale_corpus")
    # the generator reports on stdout; the benchmark keeps stdout for results
    with contextlib.redirect_stdout(sys.stderr):
        gen.gen(out_dir, n["docs"], n["vecs"], seed=seed)
        gen.gen_rel(out_dir, n["orders"], n["events"], seed=seed + 1_000_003)


def gen_text(out_dir: str, seed: int, total_bytes: int = MR_BYTES) -> None:
    """`MR_FILES` text files of words from the corpus vocabulary, lines of
    1-24 words, `MR_BLANK_FRAC` of them blank."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(load_tool("gen_scale_corpus").VOCAB)
    rng = np.random.default_rng(seed)
    per_file = total_bytes // MR_FILES
    for i in range(MR_FILES):
        lines: list[str] = []
        size = 0
        while size < per_file:
            if rng.random() < MR_BLANK_FRAC:
                line = ""
            else:
                line = " ".join(rng.choice(vocab, size=int(rng.integers(1, 25))))
            lines.append(line)
            size += len(line) + 1
        with open(os.path.join(out_dir, f"input{i:02d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")


def manifest(data_dir: str) -> dict[str, dict[str, int]]:
    """File name -> rows and bytes, for every input under ``data_dir``."""
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        if name.endswith(".parquet"):
            rows = pq.read_metadata(path).num_rows
        else:
            with open(path, "rb") as f:
                rows = sum(1 for _ in f)
        out[name] = {"rows": rows, "bytes": os.path.getsize(path)}
    return out

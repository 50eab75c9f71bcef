"""Seeded input tables for the benchmark.

The table *contents* are the repo's test tables (TESTDATA.md), copied
byte for byte under ``perfbench/testdata/<sf>/`` so that a run reads
nothing outside its checkout.  The ``--seed`` decides only the row order
and the file split of every table: a result that changes with the seed is
order-dependent output, which the benchmark reports as a failure.

Each table is written as ``<dir>/<name>.parquet/part-0000<i>.parquet``, the
layout ``spark.read.parquet`` and DuckDB's glob scan both read.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
FILES_PER_TABLE = 4


def check_output_path(out: str, inputs: list[str]) -> str:
    """Refuse an output path that resolves inside (or onto) an input
    directory — a writer must never be able to overwrite its own source."""
    real = os.path.realpath(out)
    for src in inputs:
        s = os.path.realpath(src)
        if real == s or real.startswith(s + os.sep):
            raise ValueError(f"output {out!r} resolves inside input directory {src!r}")
    return real


def write_tables(out_dir: str, seed: int, tables: tuple[str, ...], src: str) -> None:
    """Read ``tables`` from ``src`` (a scale directory of ``TESTDATA``),
    shuffle and split each by ``seed``, write them under ``out_dir``."""
    check_output_path(out_dir, [TESTDATA])
    rng = np.random.default_rng(seed)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    for name in sorted(tables):
        tb = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = tb.num_rows
        tb = tb.take(pa.array(rng.permutation(n)))
        cuts = np.sort(rng.choice(np.arange(1, n), size=min(FILES_PER_TABLE - 1, n - 1), replace=False))
        bounds = [0, *cuts.tolist(), n]
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        for i in range(len(bounds) - 1):
            pq.write_table(
                tb.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(tdir, f"part-{i:05d}.parquet"),
            )

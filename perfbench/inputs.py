"""Seeded benchmark inputs: a row permutation of every fixture table.

Written with pyarrow only, never with the engine, so two commits under
comparison read byte-identical files for the same seed. The output directory
keeps the fixture's ``sf<scale>`` name because the engine picks physical plan
shapes from that token (``functions.scale.sf_of_path``)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def fixture_dir(scale: str) -> str:
    """The read-only fixture tables for ``scale`` (e.g. ``"sf0.1"``).

    ``PERFBENCH_TESTDATA`` names the directory that holds one ``sf<scale>``
    subdirectory per fixture scale; it defaults to ``~/testdata``."""
    root = os.environ.get("PERFBENCH_TESTDATA") or os.path.expanduser("~/testdata")
    return os.path.join(root, scale)


def generate(src_dir: str, out_dir: str, seed: int) -> None:
    """Write a seeded row permutation of each table of ``src_dir`` into
    ``out_dir``. Compression and the single-row-group layout match the
    fixture files, so the engine sees the same file shapes; only the row
    order differs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(table.num_rows, 1),
        )

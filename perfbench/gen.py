#!/usr/bin/env python3
"""Seeded inputs for the benchmark.

The tables are the harness's own deterministic sf0.01 corpus, kept under
`corpus/sf0.01/` (the ten tables of TESTDATA.md, copied unchanged; the
same files the DuckDB oracle tier checks). The run seed

* permutes the row order of every table, so no two seeds hand the engine
  the same files while the contents, and so the reference fingerprints
  in `reference.json`, stay the same;
* generates the graph for the above-threshold graph op and the
  `graph_rounds` workload.

Usage: python3 perfbench/gen.py <out_dir> <seed> [graph_edges]
"""
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = Path(__file__).resolve().parent / "corpus" / "sf0.01"


def graph(seed: int, n_edges: int) -> dict:
    """A seeded random graph for the iterative graph operators.

    `edges` (src, dst): n_edges links over n_edges/2 nodes, most between
    ids a few apart, so components are long chains and the label loops
    need many rounds. `dag` (child, parent): n_edges links to a parent
    1-5 ids lower, for the ancestor closure. `nodes`/`seeds` are the node
    set and the BFS start set.
    """
    rng = np.random.default_rng([seed, 7])
    i64 = pa.int64()
    n_nodes = max(n_edges // 2, 4)
    src = rng.integers(0, n_nodes, n_edges)
    hop = rng.geometric(0.3, n_edges) * rng.choice([-1, 1], n_edges)
    dst = np.clip(src + hop, 0, n_nodes - 1)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    n_dag = max(n_edges, 4)
    child = np.arange(1, n_dag)
    parent = np.maximum(child - rng.integers(1, 6, n_dag - 1), 0)
    return {
        "graph_edges": pa.table({"src": pa.array(src, i64), "dst": pa.array(dst, i64)}),
        "graph_nodes": pa.table({"node": pa.array(np.arange(n_nodes), i64)}),
        "graph_seeds": pa.table({"n": pa.array(
            np.sort(rng.choice(n_nodes, size=min(16, n_nodes), replace=False)), i64)}),
        "graph_dag": pa.table({"child": pa.array(child, i64),
                               "parent": pa.array(parent, i64)}),
    }


def write(out_dir: str, seed: int, graph_edges: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = {p.stem: pq.read_table(p) for p in sorted(CORPUS.glob("*.parquet"))}
    if len(tables) != 10:
        raise SystemExit(f"perfbench: expected the ten corpus tables in {CORPUS}")
    tables.update(graph(seed, graph_edges))
    for name, table in tables.items():
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 6000)

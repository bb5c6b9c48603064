"""Seeded input generator.

Derives a workload's tables from the sf0.1 tables bundled in
``perfbench/data`` with the disjoint key-shifted replica rules of the
repo's ``scale_curve.py``:

- star tables: replica ``i`` shifts every surrogate key and its foreign
  keys by ``i * OFF[key]`` (offsets lie beyond each key's maximum), so
  ``factor`` replicas form ``factor`` disjoint copies of the join graph.
  Customer names of replica ``i > 0`` get the tag ``r{i:02d}~`` so
  name-blocked matching stays replica-disjoint.
- events: ids and users shifted the same way; timestamps kept.
- region, nation: shared as they are.
- documents: ``doc_id`` shifted by the first replica's offset; one copy
  only, as a per-replica word suffix would break the stop-word language
  and quality gates.
- embeddings: only the row order changes. The ANN operators take
  ``vec_id < 20`` as their query set, so a shifted ``vec_id`` would
  leave them no queries.

The seed chooses the replica indices (hence the key offsets) and the
row order of every table. Each table is written as one parquet file
with one row group, like the source.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# replica indices are drawn from range(REPLICAS)
REPLICAS = 10

# key offsets: beyond every key's maximum (scale_curve.py's OFF)
OFF = {
    "custkey": 100_000,
    "orderkey": 1_000_000,
    "partkey": 100_000,
    "suppkey": 10_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    # a multiple of 10: dedup_exact duplicates the documents with
    # doc_id % 10 == 0, and doc_id + 1_000_000 stays clear of every key
    "doc_id": 10_000,
}

# table -> {column: key family in OFF}
SHIFTS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
}
# shifted by the first replica's offset, not replicated
SINGLE = {"documents": {"doc_id": "doc_id"}}
SHARED = ("region", "nation", "embeddings")
TABLES = SHARED + tuple(SHIFTS) + tuple(SINGLE)


def replica_indices(seed: int, factor: int) -> list[int]:
    """The ``factor`` distinct replica indices the seed chooses."""
    if not 1 <= factor <= REPLICAS:
        raise ValueError(f"factor must be in 1..{REPLICAS}, got {factor}")
    rng = np.random.default_rng([seed, 0])
    return sorted(int(i) for i in rng.choice(REPLICAS, size=factor, replace=False))


def replica(table: pa.Table, name: str, i: int) -> pa.Table:
    """Replica ``i`` of a star, events or documents table."""
    for col, family in {**SHIFTS, **SINGLE}[name].items():
        idx = table.schema.get_field_index(col)
        shifted = pc.add(table[col], pa.scalar(i * OFF[family], table[col].type))
        table = table.set_column(idx, col, shifted)
    if name == "customer" and i:
        idx = table.schema.get_field_index("c_name")
        tagged = pc.binary_join_element_wise(f"r{i:02d}~", table["c_name"], "")
        table = table.set_column(idx, "c_name", tagged)
    return table


def derive(name: str, source: pa.Table, reps: list[int], rng: np.random.Generator) -> pa.Table:
    if name in SHIFTS:
        table = pa.concat_tables([replica(source, name, i) for i in reps])
    elif name in SINGLE:
        table = replica(source, name, reps[0])
    else:
        table = source
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(seed: int, factor: int, out_dir: str, source_dir: str = SOURCE_DIR) -> dict:
    """Write every table for ``seed`` into ``out_dir``; return the
    replica indices and the rows and bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    reps = replica_indices(seed, factor)
    rng = np.random.default_rng([seed, 1])
    rows, nbytes = {}, {}
    for name in TABLES:
        table = derive(name, pq.read_table(os.path.join(source_dir, f"{name}.parquet")), reps, rng)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
        nbytes[name] = os.path.getsize(path)
    return {"replicas": reps, "rows": rows, "bytes": nbytes}

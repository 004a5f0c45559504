"""Seeded input generation for the benchmark.

Every workload reads a copy of the base tables in `perfbench/base/`,
rebuilt as `copies` independent replicas whose replica ids the seed
chooses. Each replica applies GenScale's bijective transforms
(src/test/scala/graft/GenScale.scala), so every oracle stays valid and
the within-replica structure (joins, near-duplicate sets, cosine
neighbourhoods) is exactly the base's:

  - primary and foreign keys shift by id * 10^7 (orders and lineitem
    order keys by id * 10^8), so replicas never join across each other;
  - every document token gets an `_r<id>` suffix, a token bijection;
  - embeddings rotate by id % 64 dimensions, composed with a
    mix64(id)-seeded sign flip for ids >= 64 (both orthogonal);
  - events shift event_id only: vehicles densify in the same time range.

region and nation are copied byte for byte. The same (seed, copies)
gives byte-identical files.
"""
import json
import os
import random
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
M = 10_000_000
G = 100_000_000
# key columns and their shift unit, per replicated table
SHIFTS = {
    "customer": {"c_custkey": M},
    "supplier": {"s_suppkey": M},
    "part": {"p_partkey": M},
    "orders": {"o_orderkey": G, "o_custkey": M},
    "lineitem": {"l_orderkey": G, "l_partkey": M, "l_suppkey": M},
    "events": {"event_id": G},
    "documents": {"doc_id": M},
    "embeddings": {"vec_id": M},
}
# Java's \S: anything but the six ASCII whitespace characters
TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+")
MASK = (1 << 64) - 1


def mix64(z):
    """SplitMix64 finalizer, as GenClustered.mix64 (unsigned here)."""
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def replica_ids(seed, copies):
    """`copies` distinct replica ids in [1, 127], chosen by the seed."""
    if not 1 <= copies <= 127:
        raise ValueError(f"copies={copies} must be in [1, 127]")
    return sorted(random.Random(seed).sample(range(1, 128), copies))


def _replica(table, name, i):
    cols = {}
    for c, unit in SHIFTS[name].items():
        cols[c] = pc.add(table.column(c), pa.scalar(unit * i, pa.int64()))
    if name == "documents":
        text = [TOKEN.sub(lambda m: f"{m.group(0)}_r{i}", s)
                for s in table.column("text").to_pylist()]
        cols["text"] = pa.array(text, pa.string())
        cols["n_chars"] = pa.array([len(s) for s in text], pa.int64())
    if name == "embeddings":
        emb = table.column("embedding").combine_chunks()
        vecs = emb.flatten().to_numpy().reshape(len(emb), -1)
        dim = vecs.shape[1]
        out = np.roll(vecs, -(i % dim), axis=1)
        if i >= dim:
            m = mix64(i)
            flips = np.array([-1.0 if (m >> d) & 1 else 1.0 for d in range(dim)],
                             dtype=vecs.dtype)
            out = out * flips
        offsets = pa.array(np.arange(0, len(emb) * dim + 1, dim, dtype=np.int32))
        cols["embedding"] = pa.ListArray.from_arrays(
            offsets, pa.array(out.reshape(-1)), type=emb.type)
    return pa.table([cols.get(f.name, table.column(f.name)) for f in table.schema],
                    schema=table.schema)


def generate(out_dir, seed, copies):
    """Writes the seeded tables to `out_dir`; returns {table: {rows, bytes}}."""
    ids = replica_ids(seed, copies)
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name in TABLES:
        src = os.path.join(BASE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in SHIFTS:
            base = pq.read_table(src)
            out = pa.concat_tables([_replica(base, name, i) for i in ids])
            pq.write_table(out, dst, compression="snappy")
            rows = out.num_rows
        else:
            shutil.copyfile(src, dst)
            rows = pq.ParquetFile(dst).metadata.num_rows
        stats[name] = {"rows": rows, "bytes": os.path.getsize(dst)}
    with open(os.path.join(out_dir, "_inputs.json"), "w") as f:
        json.dump({"seed": seed, "copies": copies, "replica_ids": ids,
                   "tables": stats}, f, indent=1, sort_keys=True)
    return stats

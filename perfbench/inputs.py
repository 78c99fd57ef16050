"""Seeded input generators owned by the benchmark.

The benchmark builds its own inputs so that they do not change when the
program under test changes:

- ``roll_tables`` writes the batch-heavy input: ``copies`` rolled copies
  of a base table set. Copy k shifts every key by k times its domain
  size, consistently across fact and dimension tables, so joins stay
  inside one copy. Document text in copy k gets a marker token, so
  near-duplicates stay inside one copy. Embedding vectors are rotated
  per copy. The seed only sets the row order inside each copy, so the
  query results do not depend on it.
- ``write_backlog`` writes the stream-drain backlog in the shape of the
  reference's flattenChunks run: numbered records ``{"id": i}`` in
  500-record JSON files, routed to 32 shards by a hash of a partition
  key. The seed salts the partition keys, and with them the routing.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Key-domain offsets: one more than the domain size, so that copies do
#: not stack on the ``% 10000`` grids some queries derive coordinates
#: from. Every column listed under a table shifts by k * offset in copy k.
DOMAINS = {
    "orderkey": 150_001,
    "custkey": 15_001,
    "partkey": 20_001,
    "suppkey": 1_001,
    "eventid": 100_001,
    "docid": 100_001,
}
SHIFTS: dict[str, dict[str, str]] = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey",
                 "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "eventid", "user_id": "custkey"},
    "documents": {"doc_id": "docid"},
}
FIXED = ("nation", "region")


def _roll(v: list | None, shift: int) -> list | None:
    """``np.roll`` of one vector by ``shift`` places (None stays None)."""
    if not v:
        return v
    s = shift % len(v)
    return v[len(v) - s:] + v[:len(v) - s]


def _copy(t: pa.Table, name: str, k: int) -> pa.Table:
    cols = {}
    for field in t.schema:
        col = t.column(field.name).combine_chunks()
        if k and field.name in SHIFTS.get(name, {}):
            off = k * DOMAINS[SHIFTS[name][field.name]]
            col = pc.add(col, pa.scalar(off, type=field.type))
        if k and name == "documents" and field.name == "text":
            col = pc.binary_join_element_wise(
                pa.scalar(f"copyisle{k}"), col, pa.scalar(" "))
        if name == "embeddings" and field.name == "vec_id":
            col = pc.add(col, pa.scalar(k * t.num_rows, type=field.type))
        if k and name == "embeddings" and field.name == "embedding":
            # per row: the table may hold null or off-length vectors
            col = pa.array([_roll(v, 7 * k) for v in col.to_pylist()],
                           type=field.type)
        cols[field.name] = col
    return pa.table(cols, schema=t.schema)


def roll_tables(src_dir: str, out_dir: str, copies: int, seed: int) -> str:
    """Write ``copies`` rolled copies of every table in ``src_dir`` to
    ``out_dir``, one parquet part file per copy, rows shuffled inside
    each copy by ``seed``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for fname in sorted(os.listdir(src_dir)):
        name = fname.removesuffix(".parquet")
        src = os.path.join(src_dir, fname)
        if name in FIXED:
            shutil.copyfile(src, os.path.join(out_dir, fname))
            continue
        t = pq.read_table(src)
        dest = os.path.join(out_dir, fname)
        os.makedirs(dest)
        for k in range(copies):
            rng = np.random.default_rng([seed, k, zlib.crc32(name.encode())])
            rolled = _copy(t, name, k).take(rng.permutation(t.num_rows))
            pq.write_table(rolled, os.path.join(dest, f"part-{k:05d}.parquet"))
    return out_dir


def write_backlog(out_dir: str, n_files: int, seed: int,
                  records_per_file: int = 500, n_shards: int = 32,
                  first_id: int = 1) -> int:
    """Write ``n_files`` envelope files holding records ``first_id ..``;
    returns the number of records written. Each record carries
    (shard_id, partition_key, seq, data) with a per-shard increasing
    seq and the payload ``{"id": i}``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    salt = f"{seed:x}"
    seqs = [0] * n_shards
    for f in range(n_files):
        lines = []
        start = first_id + f * records_per_file
        for i in range(start, start + records_per_file):
            key = f"key{salt}-{i}"
            shard = zlib.crc32(key.encode()) % n_shards
            seqs[shard] += 1
            lines.append(json.dumps({
                "shard_id": f"shard-{shard:03d}",
                "partition_key": key,
                "seq": seqs[shard],
                "data": json.dumps({"id": i}),
            }))
        with open(os.path.join(out_dir, f"batch-{f:06d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return n_files * records_per_file

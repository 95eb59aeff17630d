"""Seeded input generator for the benchmark workloads.

Every input is derived from a read-only source directory of the
repository's parquet tables (``region nation customer supplier part orders
lineitem events documents embeddings``; see TESTDATA.md) into a fresh directory that is the only
thing the program under test is given. The transforms are pure pyarrow and
numpy, so generation costs no Spark time and is kept out of every metric:

- key-shifted replicas (``replicas`` copies): replica ``i`` adds
  ``(base + i) * (max(anchor) + 1)`` to every primary/foreign key of a
  shift group, so joins stay intact and each replica has the source's
  fan-outs; ``base`` comes from the seed, so every seed has other keys;
- documents: each text's words are rotated by a seeded per-document offset
  (length- and bag-of-words-preserving, so quality signals and the
  near-duplicate structure do not depend on the seed);
- embeddings: every vector is rolled by one seeded shift (all pairwise
  cosines are preserved);
- every table's rows are permuted by a seeded permutation.

The same seed gives byte-identical files; ``Manifest.sha256`` hashes them.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# column -> (anchor table, anchor column): every column of one group shifts
# by the same per-replica offset, derived from the anchor's max key.
SHIFTS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {
        "o_orderkey": ("orders", "o_orderkey"),
        "o_custkey": ("customer", "c_custkey"),
    },
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {
        "event_id": ("events", "event_id"),
        "user_id": ("events", "user_id"),
    },
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}


@dataclass(frozen=True)
class InputSpec:
    """What one workload reads: which tables and how many key-shifted
    replicas (1 keeps the source keys)."""

    tables: tuple[str, ...]
    replicas: int = 1


@dataclass
class Manifest:
    sha256: str
    tables: dict[str, dict[str, int]]  # name -> {"rows": n, "bytes": n}

    @property
    def total_bytes(self) -> int:
        return sum(t["bytes"] for t in self.tables.values())


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def rotate_words(texts: pa.ChunkedArray | pa.Array, rng: np.random.Generator) -> pa.Array:
    """Rotate each text's space-separated words by a seeded offset; the
    result has the same length and the same words."""
    vals = texts.to_pylist()
    offs = rng.integers(0, 1 << 30, size=len(vals))
    out = []
    for s, o in zip(vals, offs):
        if s is None:
            out.append(None)
            continue
        words = s.split(" ")
        k = int(o) % len(words)
        out.append(" ".join(words[k:] + words[:k]))
    return pa.array(out, type=pa.string())


def roll_vectors(col: pa.ChunkedArray, shift: int) -> pa.Array:
    """Roll every fixed-width list<float> vector by ``shift`` positions."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if arr.null_count:
        raise ValueError("roll_vectors: null vectors are not supported")
    lengths = pc.list_value_length(arr).to_numpy()
    if len(lengths) == 0:
        return arr
    dim = int(lengths[0])
    if not (lengths == dim).all():
        raise ValueError("roll_vectors: vectors of unequal length")
    flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False).reshape(-1, dim)
    rolled = np.roll(flat, shift % dim, axis=1).reshape(-1)
    offsets = pa.array(np.arange(len(lengths) + 1, dtype=np.int32) * dim)
    return pa.ListArray.from_arrays(offsets, pa.array(rolled, type=arr.type.value_type))


def _replace(t: pa.Table, name: str, values: pa.Array) -> pa.Table:
    i = t.schema.get_field_index(name)
    return t.set_column(i, t.schema.field(i), values)


def generate(src: str, dst: str, seed: int, spec: InputSpec) -> Manifest:
    """Write ``spec.tables`` derived from ``src`` into ``dst``."""
    os.makedirs(dst, exist_ok=True)
    shift = spec.replicas > 1
    base_tables = {
        tbl: pq.read_table(os.path.join(src, f"{tbl}.parquet")) for tbl in spec.tables
    }
    anchors: dict[tuple[str, str], int] = {}
    if shift:
        for tbl in spec.tables:
            for anchor in SHIFTS.get(tbl, {}).values():
                if anchor not in anchors:
                    atbl, acol = anchor
                    at = base_tables.get(atbl)
                    if at is None:
                        at = pq.read_table(
                            os.path.join(src, f"{atbl}.parquet"), columns=[acol])
                    anchors[anchor] = int(pc.max(at[acol]).as_py()) + 1
    base_rep = int(_rng(seed, 0).integers(1, 8)) if shift else 0

    digest = hashlib.sha256()
    stats: dict[str, dict[str, int]] = {}
    for ti, tbl in enumerate(spec.tables):
        t = base_tables[tbl]
        parts = []
        for r in range(spec.replicas):
            p = t
            if shift and tbl in SHIFTS:
                for col, anchor in SHIFTS[tbl].items():
                    off = (base_rep + r) * anchors[anchor]
                    typ = p.schema.field(col).type
                    p = _replace(p, col, pc.add(p[col], pa.scalar(off, typ)))
            if tbl == "documents":
                p = _replace(p, "text", rotate_words(p["text"], _rng(seed, 1, ti, r)))
            elif tbl == "embeddings":
                s = int(_rng(seed, 2, ti, r).integers(0, 1 << 16))
                p = _replace(p, "embedding", roll_vectors(p["embedding"], s))
            parts.append(p)
        out = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        out = out.take(pa.array(_rng(seed, 3, ti).permutation(out.num_rows)))
        path = os.path.join(dst, f"{tbl}.parquet")
        pq.write_table(out, path, compression="snappy", version="2.6",
                       row_group_size=max(1, out.num_rows))
        with open(path, "rb") as fh:
            data = fh.read()
        digest.update(tbl.encode() + b"\0" + data)
        stats[tbl] = {"rows": out.num_rows, "bytes": len(data)}
    return Manifest(digest.hexdigest(), stats)

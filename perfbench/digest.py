"""Order-independent digest of a written graph.

Each row of the canonical nodes and edges tables is serialised to JSON
(property maps as sorted [key, value] pairs) and hashed to 64 bits; the
table digest is the row count plus the sum of the row hashes mod 2^64.
A sum is independent of row order, file layout and bucket partitioning,
and still sees duplicated or missing rows.
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterable, Sequence

import pyarrow.parquet as pq

NODE_COLS = ["id", "type", "properties", "url", "chunk_id"]
EDGE_COLS = ["subj", "subj_type", "pred", "obj", "obj_type",
             "properties", "url", "chunk_id"]
_MASK = (1 << 64) - 1


def _canonical(v):
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, list):  # pyarrow yields a map as [(key, value), ...]
        return sorted([list(kv) for kv in v])
    return v


def row_hash(row: dict, cols: Sequence[str]) -> int:
    payload = json.dumps([_canonical(row[c]) for c in cols],
                         ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(
        hashlib.blake2b(payload.encode(), digest_size=8).digest(), "big")


def rows_digest(rows: Iterable[dict], cols: Sequence[str]) -> str:
    n, total = 0, 0
    for r in rows:
        n += 1
        total = (total + row_hash(r, cols)) & _MASK
    return f"{n}:{total:016x}"


def read_graph(out_dir: str):
    """(nodes, edges) rows of a graph written by
    ``operators.materialize.write_graph``."""
    return tuple(pq.read_table(f"{out_dir}/{sub}", columns=cols).to_pylist()
                 for sub, cols in (("nodes", NODE_COLS), ("edges", EDGE_COLS)))


def graph_digest(nodes, edges) -> str:
    return (f"nodes={rows_digest(nodes, NODE_COLS)} "
            f"edges={rows_digest(edges, EDGE_COLS)}")

"""Seeded workload inputs, generated once and cached on disk.

A pages table is a directory of parquet files in the engine's pages schema
(``sources.pages.PAGES_SCHEMA``). Rows come from ``corpus.make_page``, so a
table is a pure function of (n_pages, seed, n_files). Tables are written to
a temporary directory and renamed into place, and a manifest records the
row count and a SHA-256 over the files; a cached table is reused only if
both still match, so an interrupted write is never timed as a corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import List

import pyarrow as pa
import pyarrow.parquet as pq

from llm_knowledge_graph_spark.corpus import make_page

# mirrors sources.pages.PAGES_SCHEMA (Spark reads us/UTC parquet
# timestamps as TimestampType)
PAGES_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
MANIFEST = "manifest.json"


@dataclass(frozen=True)
class PagesTable:
    path: str        # directory holding only the parquet files
    rows: int
    en_rows: int
    sha256: str


def crawl_rows(n_pages: int, seed: int) -> List[dict]:
    """The ``corpus.make_pages`` distribution under an explicit seed."""
    n_sites = 1 + n_pages // 20
    return [make_page(i, seed, n_sites) for i in range(n_pages)]


def _files_sha256(files: List[Path]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers (no data read)."""
    return sum(pq.read_metadata(f).num_rows
               for f in sorted(Path(path).glob("*.parquet")))


def _load_valid(root: Path, n_pages: int) -> PagesTable | None:
    try:
        m = json.loads((root / MANIFEST).read_text())
        data = root / "pages"
        files = sorted(data.glob("*.parquet"))
        if ([f.name for f in files] != m["files"] or m["rows"] != n_pages
                or parquet_rows(str(data)) != n_pages
                or _files_sha256(files) != m["sha256"]):
            return None
        return PagesTable(str(data), m["rows"], m["en_rows"], m["sha256"])
    except (OSError, ValueError, KeyError):
        return None


def ensure_pages(cache_dir: str, n_pages: int, seed: int,
                 n_files: int) -> PagesTable:
    """Returns the cached table for (n_pages, seed, n_files), writing it
    first if it is missing or fails validation. Rows are split into
    ``n_files`` contiguous index ranges (crawl segments)."""
    root = Path(cache_dir) / f"crawl-n{n_pages}-k{n_files}-s{seed}"
    table = _load_valid(root, n_pages)
    if table is not None:
        return table
    rows = crawl_rows(n_pages, seed)
    tmp = root.with_name(f".{root.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "pages").mkdir(parents=True)
    bounds = [n_pages * k // n_files for k in range(n_files + 1)]
    files = []
    for k in range(n_files):
        f = tmp / "pages" / f"part-{k:05d}.parquet"
        pq.write_table(pa.Table.from_pylist(rows[bounds[k]:bounds[k + 1]],
                                            schema=PAGES_ARROW_SCHEMA), f)
        files.append(f)
    (tmp / MANIFEST).write_text(json.dumps({
        "rows": n_pages, "seed": seed, "files": [f.name for f in files],
        "en_rows": sum(r["lang"] == "en" for r in rows),
        "sha256": _files_sha256(files)}))
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    table = _load_valid(root, n_pages)
    if table is None:
        raise RuntimeError(f"pages table {root} failed validation after write")
    return table

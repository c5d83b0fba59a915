"""Cross-chunk entity/edge merging (N10 analogue).

The reference merges entities with Neo4j `MERGE (n:{type} {id}) SET n +=
props` and edges with `MERGE (a)-[r:TYPE]->(b)` one Cypher round-trip at a
time (ref code/pdf_graphrag.py:272-300). Here the same semantics are two
pipelined hash aggregations (no join):

  level 1 — groupBy(key..., prop_key):  last-writer-wins property value
            (`SET n += props` in (url, chunk_id, occ) ingestion order —
            `occ` is the within-chunk emission ordinal, the tie-break
            when ONE chunk emits the same key twice with conflicting
            values; inputs without an occ column order on (url, chunk_id)
            alone) via max_by, plus per-group first-witness lineage (min);
  level 2 — groupBy(key...):            reassemble the property map
            (map_from_entries over the sorted k/v list) and take the global
            first-witness lineage (min of mins).

Scale: both levels are map-side-combinable (partial max_by/min), so a hot
entity's mentions collapse per input partition before the shuffle; per-group
state at level 2 is bounded by the number of distinct property KEYS, never
by mention count. No collect_list over unbounded groups.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# merged-node columns and the edge merge key, shared by the batch merge,
# the incremental state (streaming/ingest.py) and the canonical rewrite
NODE_COLS = ["id", "type", "properties", "url", "chunk_id"]
EDGE_KEYS = ["subj", "subj_type", "pred", "obj", "obj_type"]


def kv_level1(df: DataFrame, keys: List[str]) -> DataFrame:
    """Level-1 fold state: one row per (*keys, property k) carrying the
    last-writer value `v`, the WINNER's sort key `ord` and the
    first-witness `fs`. (max_by(v, ord), max(ord), min(fs)) is an
    associative+commutative semilattice fold, so level-1 outputs from
    disjoint slices of the corpus can be re-folded (kv_fold) with a
    result IDENTICAL to one global pass — the property the streaming
    incremental merge (streaming/ingest.py) is built on."""
    ord_cols = ["url", "chunk_id"] + (["occ"] if "occ" in df.columns else [])
    order = F.struct(*[F.col(c) for c in ord_cols])
    kv = df.select(
        *keys, *ord_cols,
        F.explode_outer(F.col("properties")).alias("k", "v"),
    )
    return kv.groupBy(*keys, "k").agg(
        F.max_by("v", order).alias("v"),
        F.max(order).alias("ord"),
        F.min(F.struct("url", "chunk_id")).alias("fs"),
    )


def kv_fold(lvl1: DataFrame, keys: List[str]) -> DataFrame:
    """Re-fold a union of level-1 slices into one level-1 row per
    (*keys, k) — exact by associativity (see kv_level1)."""
    return lvl1.groupBy(*keys, "k").agg(
        F.max_by("v", F.col("ord")).alias("v"),
        F.max("ord").alias("ord"),
        F.min("fs").alias("fs"),
    )


def assemble_merged(lvl1: DataFrame, keys: List[str]) -> DataFrame:
    """Level 2: reassemble the merged property map + global first-witness
    lineage from level-1 rows."""
    entry = F.when(F.col("k").isNotNull(), F.struct("k", "v"))
    lvl2 = lvl1.groupBy(*keys).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(entry))  # nulls dropped by collect
        ).alias("properties"),
        F.min("fs").alias("first_seen"),
    )
    return lvl2.select(
        *keys, "properties",
        F.col("first_seen.url").alias("url"),
        F.col("first_seen.chunk_id").alias("chunk_id"),
    )


def _merge_by(df: DataFrame, keys: List[str]) -> DataFrame:
    return assemble_merged(kv_level1(df, keys), keys)


def merge_nodes(nodes_raw: DataFrame) -> DataFrame:
    """raw nodes(id,type,properties,url,chunk_id) → one row per (type,id)."""
    return _merge_by(nodes_raw, ["id", "type"]).select(*NODE_COLS)


def merge_edges(edges_raw: DataFrame) -> DataFrame:
    """raw edges → one row per (subj, subj_type, pred, obj, obj_type) with
    merged properties and first-witness lineage."""
    return _merge_by(edges_raw, EDGE_KEYS).select(
        *EDGE_KEYS, "properties", "url", "chunk_id")

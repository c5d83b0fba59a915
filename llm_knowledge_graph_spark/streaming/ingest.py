"""Incremental KG construction via Structured Streaming (beyond the
reference, which is strictly batch — SURVEY §2.8 'Streaming: none').

A file-source stream over the pages directory drains one micro-batch per
`maxFilesPerTrigger` files through `foreachBatch`. Each batch runs the
batch plan's own extraction and pre-merge split
(plans.pipeline.split_extracted) and appends its level-1 MERGE state as a
per-batch delta (_write_merge_delta); finalize_incremental folds the
deltas and runs the batch plan's post-merge stages, so the assembled
graph equals the batch build over the same pages. Checkpointing is
Spark's own streaming checkpoint (exactly-once per file)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..operators import extract, html_text, merge
from ..plans.pipeline import checkpoint_pair, kg_from_merged, split_extracted
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, pages_path: str,
                 max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(pages_path))


def _write_merge_delta(pages: DataFrame, batch_id: int, state_dir: str,
                       cfg) -> None:
    """Process ONE micro-batch of pages into per-batch state deltas.

    The delta for entities/relationships is the batch's LEVEL-1 merge
    state (merge.kv_level1): one row per (key, property) carrying the
    batch-local last-writer value, its winning (url, chunk_id, occ) sort
    key, and the batch-local first witness. Because that fold is an
    associative+commutative semilattice, folding the deltas at finalize
    time (merge.kv_fold) yields EXACTLY the one-pass batch merge — the
    equality tests/test_incremental_kg.py asserts.

    Deltas append as `batch=N` partition dirs — per batch the state
    WRITE is O(batch), never a rewrite of accumulated state (the scale
    lesson from streaming_first_seen round 2); compaction is a separate
    idempotent kv_fold (compact_incremental_state). Exactly-once: the
    content of `batch=N` is a deterministic function of the batch's
    files, so a crash-replayed batch overwrites its own directory
    byte-for-byte. At 100 TB these parquet dirs are Iceberg/Delta
    snapshot appends and compaction is MERGE INTO; chunk nodes and HAS
    edges are append-only by construction (unique per url/chunk) and
    ride as plain appends.
    """
    pages = html_text.filter_langs(pages, cfg.supported_langs)
    flat = extract.extract_pages_flat(
        pages, cfg.chunk_size, cfg.chunk_overlap,
        with_embedding=cfg.with_chunk_embeddings).persist()
    try:
        entities, rels, chunk_nodes, has_edges = split_extracted(flat, cfg)
        slices = {
            "nodes_kv": merge.kv_level1(entities, ["id", "type"]),
            "edges_kv": merge.kv_level1(rels, merge.EDGE_KEYS),
            "chunk_nodes": chunk_nodes,
            "has_edges": has_edges,
        }
        for sub, df in slices.items():
            (df.write.mode("overwrite")
             .parquet(f"{state_dir}/{sub}/batch={batch_id}"))
    finally:
        flat.unpersist()


def run_incremental_merge(spark: SparkSession, pages_path: str,
                          state_dir: str, checkpoint_dir: str,
                          cfg=None, max_files_per_trigger: int = 1):
    """Structured-Streaming KG construction with true MERGE semantics:
    each micro-batch of crawled pages folds into persistent level-1
    merge state; finalize_incremental assembles a graph IDENTICAL to
    the batch build over the union of all batches (N10 MERGE parity —
    the reference gets this from Neo4j's own MERGE on every ingest,
    ref code/pdf_graphrag.py:272-300). Returns the StreamingQuery
    (availableNow drain; Spark's checkpoint gives exactly-once files).

    Config envelope: ``with_chunk_embeddings`` and explicit
    ``allowed_entities``/``allowed_relationships`` are honored per batch
    (both are row-local, so batch parity holds). ``auto_schema`` is
    REJECTED: schema detection is a corpus-WIDE pass (build_kg detects
    over all pages before extracting), so a per-batch detection would
    enforce a different schema per micro-batch and silently break the
    batch-parity contract — detect offline and pass the explicit lists
    instead."""
    if cfg is None:
        cfg = PipelineConfig()
    if cfg.auto_schema and cfg.allowed_entities is None \
            and cfg.allowed_relationships is None:
        raise ValueError(
            "auto_schema is corpus-wide and cannot run per micro-batch; "
            "run schema_detect over the corpus first and pass "
            "allowed_entities/allowed_relationships explicitly")
    stream = stream_pages(spark, pages_path, max_files_per_trigger)
    return (stream.writeStream
            .foreachBatch(lambda df, bid:
                          _write_merge_delta(df, bid, state_dir, cfg))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def compact_incremental_state(spark: SparkSession, state_dir: str) -> None:
    """Collapse accumulated kv deltas into a single `batch=-1` dir (then
    drop the superseded dirs). Idempotent: kv_fold of folded state is
    itself. Keeps finalize cost O(distinct keys) regardless of how many
    micro-batches have accumulated."""
    import shutil
    from pathlib import Path

    for sub, keys in (("nodes_kv", ["id", "type"]),
                      ("edges_kv", merge.EDGE_KEYS)):
        root = Path(state_dir) / sub
        batches = sorted(p.name for p in root.iterdir()
                         if p.name.startswith("batch="))
        folded = merge.kv_fold(
            spark.read.parquet(str(root)).drop("batch"), keys)
        tmp = str(root.parent / f"_{sub}_compact")
        folded.write.mode("overwrite").parquet(tmp)
        for b in batches:
            shutil.rmtree(root / b)
        shutil.move(tmp, str(root / "batch=-1"))


def finalize_incremental(spark: SparkSession, state_dir: str, cfg=None):
    """Assemble the current graph from incremental state: fold kv deltas
    (exact, see _write_merge_delta) and reassemble property maps into two
    concurrent checkpoints, then the SAME post-merge stages as the batch
    plan (pipeline.kg_from_merged: union with the append-only chunk/HAS
    slices → link → CC → rewrite). Returns
    (nodes, edges, canonical_nodes, canonical_edges, mapping)."""
    if cfg is None:
        cfg = PipelineConfig()

    def folded(sub, keys):
        kv = spark.read.parquet(f"{state_dir}/{sub}").drop("batch")
        return merge.assemble_merged(merge.kv_fold(kv, keys), keys)

    ent, rel = checkpoint_pair(
        folded("nodes_kv", ["id", "type"]).select(*merge.NODE_COLS),
        folded("edges_kv", merge.EDGE_KEYS))
    res = kg_from_merged(
        ent, rel,
        spark.read.parquet(f"{state_dir}/chunk_nodes").drop("batch"),
        spark.read.parquet(f"{state_dir}/has_edges").drop("batch"), cfg)
    return (res.nodes, res.edges, res.canonical_nodes, res.canonical_edges,
            res.mapping)

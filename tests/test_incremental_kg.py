"""Streaming incremental MERGE-state construction must equal the batch
build exactly (streaming/ingest.py round-3 additions)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.heavy  # round-5 core/heavy split

from pyspark.sql import functions as F


def _canon_rows(df):
    """Order-insensitive canonical form incl. the full property map."""
    cols = df.columns
    return sorted(
        tuple(sorted(v.items()) if isinstance(v, dict) else v
              for v in (row[c] for c in cols))
        for row in df.collect())


def _setup_batches(spark, tmp_path, n_pages=60, n_batches=3):
    from llm_knowledge_graph_spark.corpus import make_pages
    from llm_knowledge_graph_spark.sources.pages import PAGES_SCHEMA
    pages = make_pages(n_pages, seed=7)
    pages_dir = str(tmp_path / "pages")
    step = n_pages // n_batches
    for i in range(n_batches):
        chunk = pages[i * step:(i + 1) * step]
        (spark.createDataFrame(chunk, PAGES_SCHEMA)
         .coalesce(1).write.mode("append").parquet(pages_dir))
    return pages_dir


def test_incremental_merge_equals_batch_build(spark, tmp_path):
    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.plans.pipeline import build_kg
    from llm_knowledge_graph_spark.streaming.ingest import (
        finalize_incremental, run_incremental_merge)

    pages_dir = _setup_batches(spark, tmp_path)
    state = str(tmp_path / "state")
    q = run_incremental_merge(spark, pages_dir, state,
                              str(tmp_path / "ckpt"),
                              max_files_per_trigger=1)
    assert q.awaitTermination(180), "incremental merge did not drain"

    nodes, edges, canon_nodes, canon_edges, _ = \
        finalize_incremental(spark, state)

    batch = build_kg(spark, spark.read.parquet(pages_dir),
                     PipelineConfig())
    assert _canon_rows(nodes) == _canon_rows(batch.nodes)
    assert _canon_rows(edges) == _canon_rows(batch.edges)
    assert _canon_rows(canon_nodes) == _canon_rows(batch.canonical_nodes)
    assert _canon_rows(canon_edges) == _canon_rows(batch.canonical_edges)
    # and the stream really ran as MULTIPLE micro-batches
    import os
    batches = [d for d in os.listdir(f"{state}/nodes_kv")
               if d.startswith("batch=")]
    assert len(batches) >= 3


@pytest.mark.parametrize("cfg_kw", [
    pytest.param({"with_chunk_embeddings": True}, id="embeddings"),
    pytest.param({"allowed_entities": ["Person", "Organization"],
                  "allowed_relationships": ["WORKS_FOR", "FOUNDED",
                                            "LOCATED_IN"]}, id="strict"),
])
def test_incremental_honors_config_envelope(spark, tmp_path, cfg_kw):
    """Review finding (round 3): _write_merge_delta hardcoded
    with_embedding=False and silently ignored auto_schema, so non-default
    configs broke the documented batch-parity contract. Embeddings and
    the explicit strict-mode lists are honored per batch; auto_schema (a
    corpus-WIDE pass) fails fast."""
    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.plans.pipeline import build_kg
    from llm_knowledge_graph_spark.reference_impl import reference_pipeline
    from llm_knowledge_graph_spark.sources.pages import PAGES_SCHEMA
    from llm_knowledge_graph_spark.corpus import make_pages
    from llm_knowledge_graph_spark.streaming.ingest import (
        _write_merge_delta, finalize_incremental, run_incremental_merge)

    pages = make_pages(24, seed=13)
    cfg = PipelineConfig(**cfg_kw)
    state = str(tmp_path / "state")
    for bid, sl in ((0, pages[:12]), (1, pages[12:])):
        _write_merge_delta(spark.createDataFrame(sl, PAGES_SCHEMA),
                           bid, state, cfg)
    nodes, edges, canon_nodes, canon_edges, _ = \
        finalize_incremental(spark, state, cfg)
    batch = build_kg(spark, spark.createDataFrame(pages, PAGES_SCHEMA),
                     cfg)
    assert _canon_rows(nodes) == _canon_rows(batch.nodes)
    assert _canon_rows(edges) == _canon_rows(batch.edges)
    assert _canon_rows(canon_edges) == _canon_rows(batch.canonical_edges)
    # the parity above is vacuous unless the config actually took effect
    if cfg.with_chunk_embeddings:
        emb = (nodes.filter(F.col("type") == "Chunk")
               .filter(F.col("properties").getItem("embedding").isNotNull())
               .count())
        assert emb > 0
    else:
        kept = {r.type for r in nodes.select("type").distinct().collect()}
        assert kept == {"Chunk", *cfg.allowed_entities}
        preds = {r.pred for r in edges.select("pred").distinct().collect()}
        assert "HAS" in preds
        assert preds <= {"HAS", *cfg.allowed_relationships}
        unrestricted = reference_pipeline(pages)
        assert {n["type"] for n in unrestricted["nodes"]} - kept
        assert {e["pred"] for e in unrestricted["edges"]} - preds

    with pytest.raises(ValueError, match="auto_schema"):
        run_incremental_merge(spark, str(tmp_path / "nope"), state,
                              str(tmp_path / "ckpt2"),
                              cfg=PipelineConfig(auto_schema=True))


def test_incremental_replay_and_compaction_idempotent(spark, tmp_path):
    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.sources.pages import PAGES_SCHEMA
    from llm_knowledge_graph_spark.corpus import make_pages
    from llm_knowledge_graph_spark.streaming.ingest import (
        _write_merge_delta, compact_incremental_state,
        finalize_incremental)

    pages = make_pages(30, seed=11)
    cfg = PipelineConfig()
    state = str(tmp_path / "state")
    for bid, sl in ((0, pages[:15]), (1, pages[15:])):
        _write_merge_delta(spark.createDataFrame(sl, PAGES_SCHEMA),
                           bid, state, cfg)
    before = finalize_incremental(spark, state)
    before_rows = [_canon_rows(df) for df in before[:4]]

    # crash-replay of batch 1: overwriting its own delta changes nothing
    _write_merge_delta(spark.createDataFrame(pages[15:], PAGES_SCHEMA),
                       1, state, cfg)
    replay = finalize_incremental(spark, state)
    assert [_canon_rows(df) for df in replay[:4]] == before_rows

    # compaction folds deltas without changing the assembled graph
    compact_incremental_state(spark, state)
    import os
    assert os.listdir(f"{state}/nodes_kv") == ["batch=-1"]
    after = finalize_incremental(spark, state)
    assert [_canon_rows(df) for df in after[:4]] == before_rows

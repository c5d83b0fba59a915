"""S4 against the reference's REAL golden artifact: the engine's JSON
graph-doc source must parse /root/reference/GRAPH_DOCS.json (written by
the reference at code/pdf_graphrag.py:839-841 via graph_document_to_json
:63-97) and reproduce its known shape — 15 chunk-docs, 227 nodes, 385
relationships, type histograms Entity=104 / Chunk=15 and HAS=240 /
INCLUDES=74 / RELATED_TO=33, and 15 intact 3072-float chunk embeddings
(BASELINE.md extraction-yield row).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

REF_PATH = "/root/reference/GRAPH_DOCS.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF_PATH),
    reason=f"reference artifact {REF_PATH} not present")


@pytest.fixture(scope="module")
def ref_gd(spark):
    from llm_knowledge_graph_spark.sources.golden_json import \
        read_reference_graph_docs
    return read_reference_graph_docs(spark, REF_PATH).cache()


def test_doc_count_and_ids(ref_gd):
    assert ref_gd.count() == 15
    ids = sorted(r.doc_id for r in ref_gd.select("doc_id").collect())
    assert ids == list(range(15))  # chunk_0 .. chunk_14, one per doc


def test_node_and_relationship_histograms(ref_gd):
    from llm_knowledge_graph_spark.sources.golden_json import \
        reference_graph_docs_to_tables
    nodes, edges = reference_graph_docs_to_tables(ref_gd)
    assert nodes.count() == 227
    assert edges.count() == 385
    ntypes = dict(nodes.groupBy("type").count().collect())
    assert ntypes["Entity"] == 104
    assert ntypes["Chunk"] == 15
    preds = dict(edges.groupBy("pred").count().collect())
    assert preds["HAS"] == 240
    assert preds["INCLUDES"] == 74
    assert preds["RELATED_TO"] == 33
    # flat shape = the engine's nodes/edges contract (same column names
    # the merge/linking/query operators consume)
    assert nodes.columns == ["id", "type", "properties", "url", "chunk_id"]
    assert edges.columns == ["subj", "subj_type", "pred", "obj",
                             "obj_type", "properties", "url", "chunk_id"]


def test_chunk_embeddings_survive_as_typed_floats(ref_gd):
    from llm_knowledge_graph_spark.sources.golden_json import (
        reference_chunk_embeddings, reference_graph_docs_to_tables)
    nodes, _ = reference_graph_docs_to_tables(ref_gd)
    emb = reference_chunk_embeddings(nodes)
    stats = emb.agg(
        F.count("*").alias("n"),
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
        F.sum(F.when(F.exists("embedding", lambda x: x.isNull()), 1)
              .otherwise(0)).alias("nulls")).collect()[0]
    assert (stats.n, stats.lo, stats.hi, stats.nulls) == (15, 3072, 3072, 0)
    # values are real floats, not zeroed-out parse artifacts
    norms = emb.select(
        F.aggregate("embedding", F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x).alias("sq"))
    assert norms.agg(F.min("sq")).collect()[0][0] > 0.0


def test_queryable_through_engine_operators(ref_gd, spark):
    """The parsed artifact is not just counted — the engine's Q-family
    operators run on it unchanged (degree top-k over the real edges)."""
    from llm_knowledge_graph_spark.plans.queries import degree_topk
    from llm_knowledge_graph_spark.sources.golden_json import \
        reference_graph_docs_to_tables
    _, edges = reference_graph_docs_to_tables(ref_gd)
    top = degree_topk(edges, k=5).collect()
    assert len(top) == 5
    assert all(r.degree >= 1 for r in top)
    assert top[0].degree == max(r.degree for r in top)


def test_nonmatching_chunk_id_maps_to_null_doc_id(spark, tmp_path):
    """Round-5 ADVICE fix: a Chunk node id that does not match
    chunk_(\\d+) must yield a NULL doc_id (nullif path) instead of
    throwing on ''.cast('long') under Spark 4 ANSI mode; a doc with no
    Chunk node at all must too (try_element_at path)."""
    import json

    from llm_knowledge_graph_spark.sources.golden_json import \
        read_reference_graph_docs
    docs = [
        {"nodes": [{"id": "chunk_7", "type": "Chunk", "properties": {}}],
         "relationships": [], "source": "a"},
        {"nodes": [{"id": "weird-id", "type": "Chunk", "properties": {}}],
         "relationships": [], "source": "b"},
        {"nodes": [{"id": "Alice", "type": "Person", "properties": {}}],
         "relationships": [], "source": "c"},
    ]
    p = tmp_path / "gd.json"
    p.write_text(json.dumps(docs))
    got = {r.source: r.doc_id
           for r in read_reference_graph_docs(spark, str(p)).collect()}
    assert got == {"a": 7, "b": None, "c": None}

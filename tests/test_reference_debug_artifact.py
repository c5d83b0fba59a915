"""S4 against the reference's SECOND real golden artifact (round 5):
graph_docs_debug.json is the LLMGraphTransformer serialization (nested
source/target relationship structs, LangChain-Document source — written
by ref code/romeo-juliet/test_single_query.py:27-28 over the Romeo &
Juliet PDF). The engine must parse it and reproduce its known shape —
123 page-docs, 710 nodes, 714 relationships (SURVEY main-components
table) — and project it onto the same flat nodes/edges contract the
GRAPH_DOCS.json reader emits, so every engine operator consumes either
reference serialization unchanged."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

REF_PATH = "/root/reference/graph_docs_debug.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF_PATH),
    reason=f"reference artifact {REF_PATH} not present")


@pytest.fixture(scope="module")
def dbg_gd(spark):
    from llm_knowledge_graph_spark.sources.golden_json import \
        read_reference_debug_graph_docs
    return read_reference_debug_graph_docs(spark, REF_PATH).cache()


def test_doc_count_and_page_ids(dbg_gd):
    assert dbg_gd.count() == 123
    ids = sorted(r.doc_id for r in dbg_gd.select("doc_id").collect())
    assert ids == list(range(123))  # one PDF page per graph doc


def test_node_and_relationship_counts_vs_independent_parse(dbg_gd, spark):
    from llm_knowledge_graph_spark.sources.golden_json import \
        reference_debug_graph_docs_to_tables
    nodes, edges = reference_debug_graph_docs_to_tables(dbg_gd)
    assert nodes.count() == 710
    assert edges.count() == 714
    # same flat contract as the GRAPH_DOCS.json reader — operator-portable
    assert nodes.columns == ["id", "type", "properties", "url", "chunk_id"]
    assert edges.columns == ["subj", "subj_type", "pred", "obj",
                             "obj_type", "properties", "url", "chunk_id"]
    # independent re-parse of the same bytes (plain json, no Spark):
    # per-type node histogram and per-pred edge histogram must match
    raw = json.load(open(REF_PATH))
    want_nodes = {}
    want_preds = {}
    for d in raw:
        for n in d["nodes"]:
            want_nodes[n["type"]] = want_nodes.get(n["type"], 0) + 1
        for r in d["relationships"]:
            want_preds[r["type"]] = want_preds.get(r["type"], 0) + 1
    got_nodes = dict(nodes.groupBy("type").count().collect())
    got_preds = dict(edges.groupBy("pred").count().collect())
    assert got_nodes == want_nodes      # e.g. Person=539, Concept=37
    assert got_preds == want_preds      # 243 distinct predicates


def test_queryable_through_engine_operators(dbg_gd):
    """The projected tables drive the engine's read queries directly:
    degree top-k over the debug graph must rank the protagonists."""
    from llm_knowledge_graph_spark.plans.queries import degree_topk
    from llm_knowledge_graph_spark.sources.golden_json import \
        reference_debug_graph_docs_to_tables
    _, edges = reference_debug_graph_docs_to_tables(dbg_gd)
    top = degree_topk(edges, k=5).collect()
    assert [r.id for r in top][:2] == ["Romeo", "Juliet"]


def test_source_text_survives(dbg_gd):
    # every page doc carries its page_content NON-NULL; exactly one PDF
    # page (page 2) is genuinely blank in the reference artifact
    assert dbg_gd.filter(F.col("source_text").isNull()).count() == 0
    empty = [r.doc_id for r in
             dbg_gd.filter(F.length("source_text") == 0).collect()]
    assert empty == [2]


@pytest.mark.heavy
def test_entity_linking_on_real_extracted_entities(dbg_gd, spark):
    """The north star's coreference problem on REAL LLM-extracted
    entities: the debug artifact carries genuine extraction
    inconsistencies (an underscored duplicate, a unicode-apostrophe
    variant, a truncated organization name). At threshold 0.6 the
    engine's MinHash-LSH + trigram-Jaccard linking finds EXACTLY the
    four true coreference pairs — and does NOT link the near-miss
    distinct characters ('Lady Montague' vs 'Montague', 'Count Paris'
    vs 'County Paris') — and canonicalization merges each pair to one
    canonical id."""
    from llm_knowledge_graph_spark.operators.components import \
        canonical_mapping
    from llm_knowledge_graph_spark.operators.linking import \
        similarity_edges
    from llm_knowledge_graph_spark.sources.golden_json import \
        reference_debug_graph_docs_to_tables
    nodes, _ = reference_debug_graph_docs_to_tables(dbg_gd)
    ents = nodes.select("type", "id").distinct()
    se = similarity_edges(
        ents, threshold=0.6,
        link_types=("Person", "Organization", "Place", "Location",
                    "Character"))
    got = {(r.type, frozenset((r.a, r.b))) for r in se.collect()}
    want = {
        ("Organization",
         frozenset(("Folger Shakespeare", "Folger Shakespeare Library"))),
        ("Person", frozenset(("Second Servingman", "Second_Servingman"))),
        ("Location",
         frozenset(("Capels' Monument", "Capels’ Monument"))),
        ("Person",
         frozenset(("Capulet'S Cousin", "Capulet’S Cousin"))),
    }
    assert got == want

    cm = canonical_mapping(ents, se)
    canon = {(r.type, r.id): r.canonical_id for r in cm.collect()}
    # absent id ⇒ identity (cluster representatives map to themselves
    # and are omitted from the mapping — rewrite_canonical coalesces)
    for t, pair in want:
        a, b = sorted(pair)
        assert canon.get((t, a), a) == canon.get((t, b), b)
    # near-miss distinct characters stay distinct (absent from the
    # mapping entirely = identity: they were never linked)
    for t, a, b in [("Person", "Lady Montague", "Montague"),
                    ("Person", "Count Paris", "County Paris"),
                    ("Person", "Romeo", "Juliet")]:
        ca = canon.get((t, a), a)
        cb = canon.get((t, b), b)
        assert ca != cb

"""North-star theme 3: graph edge counts (mirrors the reference's
check_db_schema.py:19-61 count assertions)."""

import pytest
from pyspark.sql import functions as F


def test_has_edge_count_equals_entity_mentions(kg_result, oracle_graph):
    """HAS-edge count == extracted-entity-mention count per chunk
    (ref code/pdf_graphrag.py:484-492: one HAS per extracted node)."""
    has_count = kg_result.edges.filter(F.col("pred") == "HAS").count()
    golden = sum(1 for e in oracle_graph["edges"] if e["pred"] == "HAS")
    assert has_count == golden


def test_per_type_node_counts(kg_result, oracle_graph):
    from collections import Counter
    golden = Counter(n["type"] for n in oracle_graph["nodes"])
    got = {r.type: r.n for r in
           kg_result.nodes.groupBy("type").agg(F.count("*").alias("n")).collect()}
    assert got == dict(golden)


def test_per_pred_edge_counts(kg_result, oracle_graph):
    from collections import Counter
    golden = Counter(e["pred"] for e in oracle_graph["edges"])
    got = {r.pred: r.n for r in
           kg_result.edges.groupBy("pred").agg(F.count("*").alias("n")).collect()}
    assert got == dict(golden)


@pytest.mark.heavy
def test_canonical_edges_no_dangling_entities(kg_result):
    """Every canonical edge endpoint exists in canonical nodes."""
    nodes = kg_result.canonical_nodes.select(
        F.col("id").alias("nid"), F.col("type").alias("ntype"))
    dangling_subj = (kg_result.canonical_edges
                     .join(nodes, (F.col("subj") == F.col("nid")) &
                           (F.col("subj_type") == F.col("ntype")), "left_anti"))
    dangling_obj = (kg_result.canonical_edges
                    .join(nodes, (F.col("obj") == F.col("nid")) &
                          (F.col("obj_type") == F.col("ntype")), "left_anti"))
    assert dangling_subj.count() == 0
    assert dangling_obj.count() == 0


@pytest.mark.heavy
def test_metrics_table(kg_result):
    from llm_knowledge_graph_spark.operators.materialize import graph_metrics
    m = {(r.kind, r.key): r.n for r in
         graph_metrics(kg_result.canonical_nodes,
                       kg_result.canonical_edges).collect()}
    assert m[("total", "nodes")] == kg_result.canonical_nodes.count()
    assert m[("total", "edges")] == kg_result.canonical_edges.count()
    assert sum(v for (k, _), v in m.items() if k == "nodes_by_type") == \
        m[("total", "nodes")]

"""Graph read-path query surface (Q1-Q9 analogues) + streaming ingest."""

import pytest
from pyspark.sql import functions as F


@pytest.mark.heavy
def test_graph_schema_introspection(spark, kg_result):
    from llm_knowledge_graph_spark.plans.queries import graph_schema
    s = graph_schema(kg_result.canonical_nodes, kg_result.canonical_edges)
    labels = {r.type for r in s["labels"].collect()}
    assert "Person" in labels and "Chunk" in labels
    rels = {r.pred for r in s["relationship_types"].collect()}
    assert "HAS" in rels
    assert s["sample_nodes"].count() <= 10


@pytest.mark.heavy
def test_degree_topk_excludes_has(kg_result):
    from llm_knowledge_graph_spark.plans.queries import degree_topk
    top = degree_topk(kg_result.canonical_edges, k=10)
    rows = top.collect()
    assert 0 < len(rows) <= 10
    # hot entities engineered into the corpus dominate degree
    ids = [r.id for r in rows]
    assert any("Acme" in i or "Doe" in i for i in ids[:5])
    # descending, deterministic
    degs = [r.degree for r in rows]
    assert degs == sorted(degs, reverse=True)


@pytest.mark.heavy
def test_degree_topk_salted_equals_plain(kg_result, spark):
    """The hot-graph salted variant (round 4): bit-identical result to
    the plain groupBy, with the phase-1 exchange actually partitioned on
    (id, _salt) so a celebrity node's endpoint rows spread across
    n_salts reducers."""
    import re

    from llm_knowledge_graph_spark.plans.queries import (degree_topk,
                                                         degree_topk_salted)
    edges = kg_result.canonical_edges
    plain = [(r.id, r.degree) for r in degree_topk(edges, k=25).collect()]
    salted_df = degree_topk_salted(edges, k=25)
    salted = [(r.id, r.degree) for r in salted_df.collect()]
    assert salted == plain
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # Catalyst names the aliased groupBy salt `_groupingexpression`
    assert any("id" in e and ("_salt" in e or "_groupingexpression" in e)
               for e in exchanges), plan


@pytest.mark.heavy
def test_multi_hop_frontier(spark):
    from llm_knowledge_graph_spark.plans.queries import multi_hop
    edges = spark.createDataFrame(
        [("a", "R", "b"), ("b", "R", "c"), ("c", "R", "d"), ("x", "R", "y")],
        "subj string, pred string, obj string")
    got = {(r.id, r.hop) for r in multi_hop(edges, "a", depth=2).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 2)}
    got3 = {(r.id, r.hop) for r in multi_hop(edges, "a", depth=3).collect()}
    assert ("d", 3) in got3


def test_neighborhood_undirected(spark):
    from llm_knowledge_graph_spark.plans.queries import neighborhood
    edges = spark.createDataFrame(
        [("a", "R", "b"), ("c", "S", "a"), ("b", "R", "c")],
        "subj string, pred string, obj string")
    got = {(r.a, r.pred, r.b) for r in neighborhood(edges, "a").collect()}
    assert got == {("a", "R", "b"), ("a", "S", "c")}


def test_classify_query():
    from llm_knowledge_graph_spark.plans.queries import classify_query
    assert classify_query("What does 'Agreement' mean?") == "definition"
    assert classify_query("Which section cites § 5?") == "citation"
    assert classify_query("Who shall report?") == "obligation"
    assert classify_query("Tell me about John") == "general"


def test_find_by_name_contains(kg_result):
    from llm_knowledge_graph_spark.plans.queries import find_by_name_contains
    rows = find_by_name_contains(kg_result.canonical_nodes, "DOE").collect()
    assert all("doe" in r.id.lower() for r in rows)


def test_streaming_lang_counts_matches_batch(spark):
    """The driver's streaming query drains the file stream to the same
    per-lang counts as a batch groupBy over the identical parquet."""
    from llm_knowledge_graph_spark.plans.kg_queries import kg_streaming_lang_counts
    sf_dir = "/root/testdata/sf0.001"
    got = {(r.lang, r.n_docs)
           for r in kg_streaming_lang_counts(spark, sf_dir).collect()}
    batch = {(r.lang, r.n_docs)
             for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
             .groupBy("lang").agg(F.count("*").alias("n_docs")).collect()}
    assert got == batch


def test_question_svo(spark):
    """Q11: deterministic SVO from a question string (ref find_svo
    code/pdf_graphrag.py:1330-1384)."""
    from llm_knowledge_graph_spark.plans.queries import question_svo
    # lowercase interrogative words — a leading capitalized word ("Did")
    # would glue onto the name, exactly as the E7 matcher treats any
    # capitalized token run
    rows = question_svo(spark, "since when John Doe works for Acme Corp?").collect()
    assert len(rows) == 1
    assert (rows[0]["subject"], rows[0]["verb"], rows[0]["object"]) == \
        ("John Doe", "works for", "Acme Corp")
    assert question_svo(spark, "what is the weather like").count() == 0


def test_reconcile_entities_priority(spark):
    """V5: structured wins on key collision; unmatched semantic rows
    survive (ref _reconcile_entities legal_graphrag.py:317-331)."""
    from llm_knowledge_graph_spark.operators.validate import reconcile_entities
    structured = spark.createDataFrame(
        [("Term", "Agreement", "the deal per §2")],
        "type string, id string, detail string")
    semantic = spark.createDataFrame(
        [("Term", "Agreement", "an llm paraphrase"),
         ("Person", "John Doe", "from llm only")],
        "type string, id string, detail string")
    out = {(r["type"], r["id"]): (r["source"], r["detail"])
           for r in reconcile_entities(structured, semantic).collect()}
    assert out[("Term", "Agreement")] == ("structured", "the deal per §2")
    assert out[("Person", "John Doe")] == ("semantic", "from llm only")
    assert len(out) == 2


@pytest.mark.heavy
def test_kg_schema_samples_shape(spark, kg_result, monkeypatch):
    """Q1 sample rows (round 3): 10 node + 10 edge sample rows, stable
    4-column tagged-union schema, deterministic ordering."""
    from llm_knowledge_graph_spark.plans import kg_queries
    # serve the session-scoped kg_result instead of building a new corpus
    monkeypatch.setattr(kg_queries, "_kg", lambda s, n_pages=0: kg_result)
    df = kg_queries.kg_schema_samples(spark, "")
    assert df.columns == ["kind", "a", "b", "c"]
    rows = df.collect()
    kinds = {}
    for r in rows:
        kinds[r.kind] = kinds.get(r.kind, 0) + 1
    assert kinds == {"node": 10, "edge": 10}
    # node rows: (type, id, "") — edge rows: (subj, pred, obj)
    for r in rows:
        assert (r.c == "") == (r.kind == "node")
    # CONTENT (review finding, round 3: shape+determinism alone let a
    # column swap or wrong-ordering sample pass): the node sample must be
    # exactly the orderBy(type, id) head of the canonical nodes, the edge
    # sample the 5-key-ordered head of the canonical edges
    want_nodes = [(r.type, r.id) for r in
                  kg_result.canonical_nodes
                  .orderBy("type", "id").limit(10).collect()]
    got_nodes = [(r.a, r.b) for r in rows if r.kind == "node"]
    assert got_nodes == want_nodes
    want_edges = sorted(
        (r.subj, r.pred, r.obj) for r in
        kg_result.canonical_edges
        .orderBy("subj", "subj_type", "pred", "obj", "obj_type")
        .limit(10).collect())
    got_edges = [(r.a, r.b, r.c) for r in rows if r.kind == "edge"]
    assert got_edges == want_edges
    # deterministic: two invocations agree exactly
    again = kg_queries.kg_schema_samples(spark, "").collect()
    assert rows == again

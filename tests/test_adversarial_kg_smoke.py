"""Adversarial-corpus smoke for the sf_dir-reading KG_QUERIES (round 5
— closes the ADVICE gap that the edge-corpus suite covered SQL_QUERIES
only): every KG driver query that reads documents/embeddings parquet
must run (not crash, and not trip its own self-verification gate) on a
degenerate corpus — empty/one-token docs below every shingle width, a
zero query vector, and far fewer rows than the gates' planted-base
caps assume.

This is the test class behind the round-5 minhash-gate fix (a planted
base of unshingleable docs made the gate raise on a HEALTHY operator);
it pins that fix and the matching hardening of the simhash, ANN, and
cosine-LSH gates."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.heavy  # round-5 core/heavy split

# KG queries whose input is the sf_dir documents table
DOC_KG_QUERIES = [
    "kg_minhash_near_dup_docs", "kg_simhash_pairs",
    "kg_streaming_lang_counts", "kg_streaming_first_seen",
]

# KG queries whose input is the sf_dir embeddings table
EMB_KG_QUERIES = [
    "kg_ann_lsh_topk", "kg_ann_ivf_topk", "kg_cosine_near_dup_lsh",
]


@pytest.fixture(scope="module")
def edge_kg_docs_dir(spark, tmp_path_factory):
    """Same adversarial shapes as the SQL smoke's documents fixture: the
    planted-gate danger zone doc_id < 20 is ALL degenerate (empty text,
    below-shingle-width, giant single token, unicode), so any gate that
    plants unrepresentable docs raises on a healthy operator."""
    out = tmp_path_factory.mktemp("edge_kg_docs")
    docs = [
        (0, "", "en", "src0"),
        (1, "solo", "en", "src0"),
        (2, "two words", "de", "src1"),
        (3, "x x x x", "fr", "src1"),
        (4, "w" * 500, "es", "src2"),
        (5, "中文 字符 éé üü ß 中文 字符", "en", "src2"),
        (6, "a.b,c;d:e!f?g (h) [i] {j}", "de", "src3"),
        (7, "the of and to is a " * 8, "en", "src3"),
        (18, "pack my box with five dozen liquor jugs extra tail words "
             "to clear every shingle width in the suite", "en", "src4"),
        (19, ("repeat me " * 12).strip(), "fr", "src4"),
    ]
    rows = [(i, t, lang, src, len(t)) for i, t, lang, src in docs]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(out / "documents.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def edge_kg_emb_dir(spark, tmp_path_factory):
    """vec_id 0 is the ZERO vector (the documented-contract ANN query
    id, maximally degenerate), the corpus has 8 rows (far below the 200
    the cosine-LSH gate's planted base used to hardcode), plus exact
    duplicates, underflow-tiny, and negative-only vectors."""
    out = tmp_path_factory.mktemp("edge_kg_emb")
    dim = 8
    vecs = [
        (0, [0.0] * dim, 0),                      # zero vector
        (1, [1.0] + [0.0] * (dim - 1), 0),
        (2, [1.0] + [0.0] * (dim - 1), 1),        # exact duplicate of 1
        (3, [1e-30] * dim, 1),                    # underflow-tiny
        (4, [1e6, -1e6] * (dim // 2), 2),
        (5, [-1.0] * dim, 2),                     # negative-only
        (6, [float(i) for i in range(dim)], 3),
        (7, [float(dim - i) for i in range(dim)], 3),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(out / "embeddings.parquet"))
    return str(out)


@pytest.mark.parametrize("name", DOC_KG_QUERIES)
def test_doc_kg_query_survives_edge_corpus(spark, edge_kg_docs_dir, name):
    from llm_knowledge_graph_spark.plans.kg_queries import KG_QUERIES
    rows = KG_QUERIES[name](spark, edge_kg_docs_dir).collect()
    assert isinstance(rows, list)


@pytest.mark.parametrize("name", EMB_KG_QUERIES)
def test_emb_kg_query_survives_edge_corpus(spark, edge_kg_emb_dir, name):
    from llm_knowledge_graph_spark.plans.kg_queries import KG_QUERIES
    rows = KG_QUERIES[name](spark, edge_kg_emb_dir).collect()
    assert isinstance(rows, list)


def test_stream_documents_accepts_file_uri_for_both_layouts(
        spark, edge_kg_docs_dir, tmp_path):
    """The documents layout probe goes through the Hadoop FileSystem, so a
    `file://` URI streams every row in both parquet layouts: a directory
    of part files and a single `documents.parquet` file. The query's own
    stream/batch parity gate raises if the stream drains zero rows."""
    import pyarrow.parquet as pq

    from llm_knowledge_graph_spark.plans.kg_queries import KG_QUERIES

    single = tmp_path / "single_file"
    single.mkdir()
    docs = spark.read.parquet(f"{edge_kg_docs_dir}/documents.parquet")
    pq.write_table(docs.toArrow(), str(single / "documents.parquet"))
    n_langs = docs.select("lang").distinct().count()
    for sf_dir in (edge_kg_docs_dir, str(single)):
        rows = KG_QUERIES["kg_streaming_lang_counts"](
            spark, f"file://{sf_dir}").collect()
        assert sum(r.n_docs for r in rows) == docs.count()
        assert len(rows) == n_langs

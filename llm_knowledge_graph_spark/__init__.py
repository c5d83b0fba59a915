"""llm_knowledge_graph_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference GraphRAG pipeline (samuelbagin1/llm-knowledge-graph).

The engine re-expresses the reference's document→KG dataflow
(load → chunk → extract → normalize → dedup/link → materialize → query)
as declarative Spark DataFrame programs: per-chunk work runs data-parallel
inside Arrow-batched pandas UDFs, cross-chunk work (entity merge, linking,
canonicalization) runs as joins/aggregations that Catalyst plans, and the
graph is materialized as subject-hash-partitioned parquet tables.

Layout:
  reference_impl  — plain-Python oracle (bit-exact semantics of the
                    reference's deterministic stages; no Spark)
  corpus          — deterministic Common-Crawl-style pages fixture synthesizer
  functions/      — column-level expression helpers (normalize/text/vectors/hashing)
  operators/      — DataFrame→DataFrame stages (extract, merge, dedup, link,
                    components, materialize, checkpoint, similarity)
  plans/          — end-to-end pipeline composition + query surface
  streaming/      — incremental ingest (Structured Streaming file source)
"""

__version__ = "0.1.0"

"""Graph materialization (K1/K2 analogue): nodes/edges tables replace Neo4j.

The reference writes one MERGE round-trip per node/edge over Bolt
(ref code/pdf_graphrag.py:272-300); here the graph lands as columnar tables:

  * `edges` partitioned by `subj_bucket = pmod(xxhash64(subj), N)` —
    subject-hash partitioning (north rule) so per-subject reads prune to one
    bucket, with an extra salt column in the shuffle so hot subjects
    ("celebrity entities") spread over `salt` reducers instead of one.
  * `nodes` partitioned by the same bucket of `canonical_id`.
  * a `metrics` table with per-type node counts / per-pred edge counts +
    totals (V6 analogue, ref code/legal-llm/legal_graphrag.py:642-679) —
    the triple-count metrics of the north rule.

On a cluster these become Iceberg tables (`write.format("iceberg")`); the
sandbox writes parquet with identical layout.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_subject_bucket(df: DataFrame, col: str, n_buckets: int) -> DataFrame:
    return df.withColumn("subj_bucket", F.pmod(F.xxhash64(F.col(col)),
                                               F.lit(n_buckets)).cast("int"))


def write_graph(nodes: DataFrame, edges: DataFrame, out_dir: str,
                n_buckets: int = 32, salt: int = 8,
                fmt: str = "parquet") -> tuple[int, int]:
    """Writes {out_dir}/nodes, {out_dir}/edges, {out_dir}/metrics and
    returns the (nodes, edges) totals recorded in the metrics table.

    The inputs are usually lazy plans (the canonical rewrite). Each is
    materialized ONCE: both are `localCheckpoint`ed on entry, concurrently,
    and the two table writes and the metrics all read that one copy — so
    callers get the graph's size without counting the frames again.

    The collected metrics rows go back in as an Arrow local relation
    (`createDataFrame(pyarrow.Table, schema)` → `LocalTableScan`), so the
    metrics write starts no Python worker: a list would be a pickled
    `PythonRDD`, and a pandas frame takes the Arrow path only when
    `len(data) > 0`."""
    with ThreadPoolExecutor(2) as pool:
        f_nodes = pool.submit(nodes.localCheckpoint)
        f_edges = pool.submit(edges.localCheckpoint)
        nodes, edges = f_nodes.result(), f_edges.result()
    nodes_b = with_subject_bucket(nodes, "id", n_buckets)
    edges_b = with_subject_bucket(edges, "subj", n_buckets)

    # Salted repartition: shuffle key = (bucket, salt) so a hot subject's
    # rows land on `salt` tasks; files still collapse under bucket=K dirs.
    salted = F.pmod(F.xxhash64(F.col("subj"), F.col("obj")), F.lit(salt))
    (edges_b
     .repartition(n_buckets * salt, F.col("subj_bucket"), salted)
     .write.mode("overwrite").partitionBy("subj_bucket")
     .format(fmt).save(f"{out_dir}/edges"))

    (nodes_b
     .repartition(n_buckets, F.col("subj_bucket"))
     .write.mode("overwrite").partitionBy("subj_bucket")
     .format(fmt).save(f"{out_dir}/nodes"))

    # the metrics table is a few dozen rows: collect it once, write those
    # rows and read the totals off them
    metrics = graph_metrics(nodes, edges)
    rows = metrics.collect()
    table = pa.table({c: [r[c] for r in rows] for c in metrics.columns})
    (nodes.sparkSession.createDataFrame(table, metrics.schema).coalesce(1)
     .write.mode("overwrite").format(fmt).save(f"{out_dir}/metrics"))
    totals = {r["key"]: r["n"] for r in rows if r["kind"] == "total"}
    return totals["nodes"], totals["edges"]


def graph_metrics(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(kind, key, n): node counts per type, edge counts per pred, totals."""
    per_type = nodes.groupBy(F.col("type").alias("key")).agg(
        F.count("*").alias("n")).withColumn("kind", F.lit("nodes_by_type"))
    per_pred = edges.groupBy(F.col("pred").alias("key")).agg(
        F.count("*").alias("n")).withColumn("kind", F.lit("edges_by_pred"))
    node_total = nodes.agg(F.count("*").alias("n")).select(
        F.lit("nodes").alias("key"), "n", F.lit("total").alias("kind"))
    edge_total = edges.agg(F.count("*").alias("n")).select(
        F.lit("edges").alias("key"), "n", F.lit("total").alias("kind"))
    return (per_type.unionByName(per_pred)
            .unionByName(node_total).unionByName(edge_total)
            .select("kind", "key", "n"))


def read_graph(spark: SparkSession, out_dir: str, fmt: str = "parquet"):
    nodes = spark.read.format(fmt).load(f"{out_dir}/nodes")
    edges = spark.read.format(fmt).load(f"{out_dir}/edges")
    return nodes, edges


def write_graph_bucketed_tables(spark: SparkSession, nodes: DataFrame,
                                edges: DataFrame, path: str,
                                prefix: str = "kg",
                                n_buckets: int = 32) -> tuple:
    """Catalog-registered BUCKETED graph tables: ``bucketBy(N, key)``
    + ``sortBy(key)`` + ``saveAsTable``, nodes bucketed on ``id`` and
    edges on ``subj`` with the SAME bucket count.

    This is the Spark-native co-location contract the parquet sink's
    `subj_bucket` directory layout emulates and the Iceberg adapter's
    `bucket(N, subj)` transform provides natively: because both sides
    are bucketed AND sorted on the join key, a nodes⋈edges sort-merge
    join reads bucket k against bucket k directly — NO Exchange on
    either side, and NO Sort either once the scan exposes the sortBy
    order (`spark.sql.legacy.bucketedTableScan.outputOrdering=true`,
    valid here because the writer repartitions to ONE file per bucket;
    both plans asserted in tests/test_bucketed_join.py).
    At 100 TB that deletes the single biggest shuffle of the serving
    path (edge traversals joining back to node attributes).

    Returns the (nodes_table, edges_table) names."""
    nt, et = f"{prefix}_nodes_b", f"{prefix}_edges_b"
    for name in (nt, et):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # repartition on the bucket key FIRST (same Murmur3 family as the
    # bucket spec → exact co-location): one file per bucket, which is
    # the condition under which Spark trusts the sortBy metadata and
    # drops the join-side Sort. Without it each task writes its own
    # file per bucket and the read path re-sorts.
    (nodes.repartition(n_buckets, F.col("id"))
     .write.mode("overwrite")
     .option("path", f"{path}/{nt}")
     .bucketBy(n_buckets, "id").sortBy("id")
     .format("parquet").saveAsTable(nt))
    (edges.repartition(n_buckets, F.col("subj"))
     .write.mode("overwrite")
     .option("path", f"{path}/{et}")
     .bucketBy(n_buckets, "subj").sortBy("subj")
     .format("parquet").saveAsTable(et))
    return nt, et

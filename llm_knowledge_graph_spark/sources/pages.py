"""Pages source: the engine's scan operator over the webtext corpus.

Replaces the reference's PDF loaders (S1/S2, code/pdf_graphrag.py:785-788,
code/legal-llm/legal_graphrag.py:381-404) with a columnar scan of the
Iceberg-style pages table (input_hint shape). At 100 TB the table is an
Iceberg/parquet dataset partitioned by crawl date; Catalyst pushes the lang
filter and column pruning into the scan; `html` crosses into Python only
for rows whose `text` is null (operators/extract.py extract_pages_flat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan the pages table (parquet here; `format('iceberg')` on a cluster)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def synthesize_pages(spark: SparkSession, n_pages: int = 200,
                     seed: int = 42, parallelism: int = 8) -> DataFrame:
    """Deterministic fixture corpus, synthesized DISTRIBUTED: each task
    generates its own index range via the pure per-index function
    (corpus.make_page) inside mapInPandas — no driver bottleneck, identical
    rows to the driver-side corpus.make_pages oracle."""
    import pandas as pd

    from ..corpus import make_page

    n_sites = 1 + n_pages // 20

    def gen(batches):
        for pdf in batches:
            rows = [make_page(int(i), seed, n_sites) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = out["warc_ts"].map(lambda d: d.replace(tzinfo=None))
            yield out

    return (spark.range(0, n_pages, numPartitions=parallelism)
            .mapInPandas(gen, PAGES_SCHEMA))


def write_pages(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver-provided testdata tables (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

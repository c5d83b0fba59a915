"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north rule: `spark-submit --py-files` at N and 4N executors):

    cd /root/repo && zip -r /tmp/kgspark.zip llm_knowledge_graph_spark
    spark-submit --py-files /tmp/kgspark.zip tools/run_pipeline.py \
        --pages <pages-parquet-or-iceberg> --out <graph-dir> \
        [--checkpoint-dir DIR --run-id RUN --resume] \
        [--langs en,de] [--buckets 512] [--salt 16]

Local smoke:
    python tools/run_pipeline.py --synthesize 2000 --out /tmp/graph

--resume re-enters an interrupted run: stages that committed buckets to the
checkpoint manifest are loaded, only missing buckets recompute
(operators/checkpoint.py).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (parquet/iceberg)")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="synthesize N fixture pages instead of --pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--auto-schema", action="store_true",
                    help="E1+E3: detect+refine the schema, enforce strict")
    ap.add_argument("--confidence-threshold", type=float, default=None,
                    help="V4 gate: commit only if mean(V1..V3) >= T")
    ap.add_argument("--golden-json", default=None,
                    help="also write the graph-doc JSON artifact here (K3)")
    args = ap.parse_args()

    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.operators import checkpoint, extract
    from llm_knowledge_graph_spark.operators import html_text
    from llm_knowledge_graph_spark.plans import pipeline
    from llm_knowledge_graph_spark.session import get_spark
    from llm_knowledge_graph_spark.sources.pages import (read_pages,
                                                         synthesize_pages)

    spark = get_spark(app_name="kgspark-pipeline", master=args.master)
    cfg = PipelineConfig(
        supported_langs=tuple(args.langs.split(",")),
        n_subject_buckets=args.buckets, hot_subject_salt=args.salt,
        auto_schema=args.auto_schema,
        confidence_threshold=args.confidence_threshold,
    )

    pages = (synthesize_pages(spark, args.synthesize, seed=42)
             if args.synthesize else read_pages(spark, args.pages))

    if args.checkpoint_dir:
        # resumable path: the fused extract stage commits per-bucket
        # checkpoints; an interrupted run restarts from the manifest.
        # Everything else is build_and_write's own code: auto-schema
        # detection before extraction, the post-extract pipeline over the
        # checkpointed rows, the V4 gate and the sink commit (embeddings
        # derived from the checkpointed chunk text — no second extraction
        # crossing).
        pages = html_text.filter_langs(pages, cfg.supported_langs)
        cfg = pipeline.with_detected_schema(pages, cfg)
        flat = checkpoint.run_stage_resumable(
            spark, pages,
            lambda df: extract.extract_pages_flat(
                df, cfg.chunk_size, cfg.chunk_overlap),
            args.checkpoint_dir, args.run_id, "extract",
            key_col="url", n_buckets=max(8, args.buckets))
        res = pipeline.write_kg(pipeline.kg_from_flat(flat, cfg),
                                args.out, cfg)
    else:
        res = pipeline.build_and_write(spark, pages, args.out, cfg)

    if res.committed is False:
        print(f"confidence below {args.confidence_threshold}: graph NOT "
              f"committed (metrics written to {args.out}/metrics)")
        spark.stop()
        return
    if args.golden_json:
        from llm_knowledge_graph_spark.sources import golden_json
        golden_json.write_graph_docs_json(
            res.canonical_nodes, res.canonical_edges, args.golden_json)
    print(f"graph written to {args.out}: {res.node_total} nodes, "
          f"{res.edge_total} edges")
    spark.stop()


if __name__ == "__main__":
    main()

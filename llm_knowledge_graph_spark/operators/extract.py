"""Triple extraction + per-chunk graph-document assembly — the flagship
operator (E4 analogue; ref schema_driven_extraction code/pdf_graphrag.py:692-750
and convert_to_graph_document :393-500).

Spark-first design:
  * The reference fans out one LLM call per chunk via asyncio
    (code/pdf_graphrag.py:754-781); here Spark task parallelism IS the
    fan-out and the "model" is the deterministic extractor running inside an
    Arrow-batched mapInPandas stage (north rule: batched pandas/Arrow UDFs, no
    per-row Python at the Spark level). Swapping in a real ONNX-quantized
    extractor means replacing `extract_chunk` with a session held in a
    module-level cache (loaded once per executor) — the operator shape,
    schema and batching stay identical.
  * Endpoint resolution (ref :459-468, an O(V·E) list scan per chunk) is
    chunk-local, so it stays inside the stage as an O(V+E) dict lookup —
    data-parallel, zero shuffle. Cross-chunk merging is the next stage.
  * html→text, chunking and extraction run FUSED in one mapInPandas stage
    (extract_pages_flat) that emits nodes and edges as one flat long-format
    frame; callers persist it and project nodes/edges out JVM-side
    (nodes_from_flat/edges_from_flat), so extraction runs once per chunk
    and the corpus crosses into Python once.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FLAT_SCHEMA = ("url string, chunk_id long, kind string, a string, "
               "a_type string, pred string, b string, b_type string, "
               "props_json string, chunk_text string, occ long")


def extract_pages_flat(pages: DataFrame, chunk_size: int = 1024,
                       overlap: int = 128, with_embedding: bool = False) -> DataFrame:
    """FUSED per-document path: html→text → chunk → extract → graphdoc in
    ONE mapInPandas stage over pages.

    Why fused: each python-UDF stage costs a worker fleet (fork + numpy/
    pandas imports) and a JVM↔Python Arrow round-trip of the intermediate
    (chunk text is ~1x the corpus). Fusing the chunk-local pipeline into a
    single stage makes the whole extract path one Python crossing and keeps
    the output schema FLAT (no nested maps/arrays → fast Arrow path).

    Output: long format; kind='n' rows are nodes (a=id, a_type=type),
    kind='e' rows are edges (a=subj .. b=obj). properties as JSON string —
    parsed JVM-side by nodes_from_flat/edges_from_flat — EXCEPT the chunk
    node's `text` property, which rides a dedicated Arrow string column
    (`chunk_text`): JSON-escaping ~1 KB of text per chunk in python and
    re-parsing it with from_json in the JVM was the single largest hot-path
    CPU cost (the corpus itself round-tripping through a JSON codec).
    nodes_from_flat splices it back into the property map JVM-side, so the
    reassembled map is identical.

    Python-side frames are assembled as per-column lists (dict-of-lists →
    DataFrame), never list-of-row-tuples — pandas transposes tuple rows in
    pure python, which dominated profile time at high core counts.
    """
    import json
    from typing import Iterator

    from ..reference_impl import (build_graph_document, chunk_text,
                                  extract_chunk, html_to_text)

    def gen(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            c_url: list = []; c_cid: list = []; c_kind: list = []
            c_a: list = []; c_at: list = []; c_pred: list = []
            c_b: list = []; c_bt: list = []; c_pj: list = []
            c_ct: list = []; c_occ: list = []

            def put(url, cid, kind, a, at, pred, b, bt, pj, ct, occ):
                c_url.append(url); c_cid.append(cid); c_kind.append(kind)
                c_a.append(a); c_at.append(at); c_pred.append(pred)
                c_b.append(b); c_bt.append(bt); c_pj.append(pj)
                c_ct.append(ct); c_occ.append(occ)

            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                if text is None:
                    text = html_to_text(html)
                for cid, ctext, _cs, _ce in chunk_text(text, chunk_size, overlap):
                    gd = build_graph_document(
                        extract_chunk(ctext), cid, ctext,
                        with_embedding=with_embedding)
                    prefix = f"{url}#chunk_{cid}"
                    # occ = emission ordinal WITHIN the chunk's node/edge
                    # list — the tie-break for same-key duplicates inside
                    # one chunk (e.g. the same SVO triple twice with
                    # different property values): the merge's last-writer-
                    # wins order is (url, chunk_id, occ), matching the
                    # reference's per-occurrence `SET += props` replay
                    for occ, n in enumerate(gd["nodes"]):
                        if n["type"] == "Chunk":
                            props = dict(n["properties"])
                            ct = props.pop("text", None)
                            put(url, cid, "n", prefix, "Chunk", None, None,
                                None, json.dumps(props, ensure_ascii=False),
                                ct, occ)
                        else:
                            put(url, cid, "n", n["id"], n["type"], None, None,
                                None, json.dumps(n["properties"],
                                                 ensure_ascii=False),
                                None, occ)
                    for occ, e in enumerate(gd["edges"]):
                        # HAS edges (chunk → every extracted node, ref
                        # :484-492) are NOT emitted: they are a pure
                        # projection of the node rows (one HAS per non-Chunk
                        # node row) and are derived JVM-side by
                        # has_edges_from_nodes — they are the dominant edge
                        # class (~40% of all rows), so deriving them halves
                        # the Arrow transfer + cache footprint.
                        if e["pred"] == "HAS" and e["subj_type"] == "Chunk":
                            continue
                        subj = prefix if e["subj_type"] == "Chunk" else e["subj"]
                        put(url, cid, "e", subj, e["subj_type"], e["pred"],
                            e["obj"], e["obj_type"],
                            json.dumps(e["properties"], ensure_ascii=False),
                            None, occ)
            yield pd.DataFrame({
                "url": c_url, "chunk_id": c_cid, "kind": c_kind, "a": c_a,
                "a_type": c_at, "pred": c_pred, "b": c_b, "b_type": c_bt,
                "props_json": c_pj, "chunk_text": c_ct, "occ": c_occ})

    # never ship html bytes for rows whose text is already populated — the
    # UDF only falls back to html when text is null (the "don't read html
    # when text is present" rule, JVM-side so the Arrow transfer shrinks)
    return (pages.select(
        "url",
        F.when(F.col("text").isNull(), F.col("html")).alias("html"),
        "text",
    ).mapInPandas(gen, FLAT_SCHEMA))


_PROPS = "map<string,string>"


def nodes_from_flat(flat: DataFrame) -> DataFrame:
    base = F.from_json("props_json", _PROPS)
    props = F.when(
        F.col("chunk_text").isNotNull(),
        F.map_concat(F.create_map(F.lit("text"), F.col("chunk_text")), base),
    ).otherwise(base)
    return (flat.filter(F.col("kind") == "n")
            .select(F.col("a").alias("id"), F.col("a_type").alias("type"),
                    props.alias("properties"),
                    "url", "chunk_id", "occ"))


def edges_from_flat(flat: DataFrame) -> DataFrame:
    """Non-HAS edges only — HAS edges are derived (has_edges_from_nodes)."""
    return (flat.filter(F.col("kind") == "e")
            .select(F.col("a").alias("subj"), F.col("a_type").alias("subj_type"),
                    "pred",
                    F.col("b").alias("obj"), F.col("b_type").alias("obj_type"),
                    F.from_json("props_json", _PROPS).alias("properties"),
                    "url", "chunk_id", "occ"))


def has_edges_from_nodes(nodes: DataFrame) -> DataFrame:
    """Chunk→entity HAS edges (N8, ref code/pdf_graphrag.py:484-492),
    derived JVM-side from node rows: exactly one HAS edge per non-Chunk
    node row, same multiplicity as the reference's per-extracted-node
    append. Applying this AFTER a strict-mode node filter reproduces the
    reference's 'drop HAS edges to dropped nodes' semantics for free.
    Keeping these out of the python→JVM stream removes the dominant edge
    class from the Arrow transfer and the cache."""
    empty = F.from_json(F.lit("{}"), _PROPS)
    return (nodes.filter(F.col("type") != "Chunk")
            .select(
                F.concat(F.col("url"), F.lit("#chunk_"),
                         F.col("chunk_id")).alias("subj"),
                F.lit("Chunk").alias("subj_type"),
                F.lit("HAS").alias("pred"),
                F.col("id").alias("obj"),
                F.col("type").alias("obj_type"),
                empty.alias("properties"),
                "url", "chunk_id"))

"""End-to-end KG construction pipeline (the Spark equivalent of
PDFGraphRAG.process, ref code/pdf_graphrag.py:800-853 — see SURVEY §3.1).

    pages ─filter(lang)─ mapInPandas(html→text ─chunk─ extract)
          ─[strict filter + HAS split]─ merge nodes/edges (N10)
          ─minhash-LSH link─ connected components─ canonical rewrite
          ─materialize (subject-hash buckets + salt) + metrics

Everything before `merge` is shuffle-free (chunk-local); merge and linking
are single hash-aggregation / bucket-join shuffles; components iterates on
a frontier that is tiny relative to the corpus (distinct linked names only).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators import components, extract, html_text, linking, merge
from ..operators import materialize


@dataclass
class KGResult:
    nodes: DataFrame          # merged, pre-canonicalization
    edges: DataFrame
    sim_edges: DataFrame      # entity-linking similarity edges
    mapping: DataFrame        # (type, id, canonical_id)
    canonical_nodes: DataFrame
    canonical_edges: DataFrame
    # typed K4 vector table (url, chunk_id, embedding array<float>) — lazy;
    # the serving path for cosine queries (operators/embed.py)
    chunk_embeddings: Optional[DataFrame] = None
    # V4 gate outcome set by write_kg: True = graph committed,
    # False = below confidence threshold (metrics only), None = ungated
    committed: Optional[bool] = None
    # canonical graph size as recorded in {out}/metrics; set by write_kg
    # when the graph commits (None before / without a write)
    node_total: Optional[int] = None
    edge_total: Optional[int] = None


def with_detected_schema(pages: DataFrame,
                         cfg: PipelineConfig) -> PipelineConfig:
    """E1+E3 two-pass flow (ref code/pdf_graphrag.py:800-833): coarse-chunk
    schema detection + refinement first, then the detected schema is
    enforced strict-mode by the fine-chunk extraction. Explicit allowed
    lists win over detection (the reference's fixed-schema path)."""
    if (not cfg.auto_schema or cfg.allowed_entities is not None
            or cfg.allowed_relationships is not None):
        return cfg
    from dataclasses import replace

    from ..operators import schema_detect
    detected = schema_detect.detect_schema(
        pages, cfg.schema_chunk_size, cfg.schema_chunk_overlap)
    return replace(cfg, allowed_entities=detected["nodes"],
                   allowed_relationships=detected["relationships"])


def build_kg(spark: SparkSession, pages: DataFrame,
             cfg: PipelineConfig = PipelineConfig(),
             alias_dict: Optional[DataFrame] = None) -> KGResult:
    pages = html_text.filter_langs(pages, cfg.supported_langs)
    cfg = with_detected_schema(pages, cfg)

    # FUSED per-document path: html→text + chunk + extract + graphdoc in one
    # mapInPandas stage (one Python crossing for the whole corpus — see
    # extract.extract_pages_flat); strict-mode filtering applies JVM-side
    # in split_extracted.
    flat = extract.extract_pages_flat(
        pages, cfg.chunk_size, cfg.chunk_overlap,
        with_embedding=cfg.with_chunk_embeddings).persist()
    return kg_from_flat(flat, cfg, alias_dict)


def chunk_has() -> Column:
    """Selects the derived chunk→entity HAS edges. An extractor MAY
    legitimately emit an entity-entity relationship normalizing to "HAS"
    (e.g. "has" upper-cased) — those are ordinary relationships in the
    reference and must flow the relationship path, so routing keys on
    (pred, subj_type), matching the skip condition in
    extract.extract_pages_flat."""
    return (F.col("pred") == "HAS") & (F.col("subj_type") == "Chunk")


def split_extracted(
        flat: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The pre-merge split of the fused extractor's flat rows: node/edge
    rows → strict filter → (entity rows, relationship rows, chunk nodes,
    chunk-HAS edges). The batch build merges the first two
    (kg_from_flat); the incremental writer folds them into per-batch
    level-1 state (streaming.ingest._write_merge_delta).

    Only entity mentions and relationships can collide, so only they are
    MERGE-dedup'd: chunk nodes are unique by construction (id =
    url#chunk_i) and HAS edges are unique per (chunk, entity). Routing
    those around the merge keeps the corpus text (chunk `text` property)
    OUT of the merge shuffle. HAS edges are DERIVED from the (strict-
    filtered) node rows JVM-side, never shipped from python."""
    nodes_raw = extract.nodes_from_flat(flat)
    edges_raw = extract.edges_from_flat(flat)
    if (cfg.allowed_entities is not None
            or cfg.allowed_relationships is not None):
        nodes_raw, edges_raw = strict_filter(
            nodes_raw, edges_raw,
            cfg.allowed_entities, cfg.allowed_relationships)
    return (nodes_raw.filter(F.col("type") != "Chunk"),
            edges_raw.filter(~chunk_has()),
            nodes_raw.filter(F.col("type") == "Chunk")
                     .select(*merge.NODE_COLS),
            extract.has_edges_from_nodes(nodes_raw))


def kg_from_flat(flat: DataFrame, cfg: PipelineConfig,
                 alias_dict: Optional[DataFrame] = None) -> KGResult:
    """Everything after extraction: strict filter → merge → link → CC →
    canonical rewrite, over the fused extractor's flat rows. `flat` is
    either build_kg's persisted extraction or the resumable CLI's
    checkpointed one; both paths share this one definition."""
    entities, rels, chunk_nodes, has_edges = split_extracted(flat, cfg)
    # localCheckpoint (eager) ONLY the merged (shuffled) slices — they are
    # consumed by 3+ downstream stages and truncating the plan keeps
    # Catalyst analysis flat. The pass-through slices (chunk nodes, HAS
    # edges — the corpus-text-carrying bulk) stay LAZY projections of
    # `flat`: no second in-memory copy, columnar cache pruning serves each
    # consumer. The two checkpoints are independent → materialize them
    # CONCURRENTLY.
    entity_merged, rel_merged = checkpoint_pair(
        merge.merge_nodes(entities), merge.merge_edges(rels))
    res = kg_from_merged(entity_merged, rel_merged, chunk_nodes, has_edges,
                         cfg, alias_dict)
    from ..operators import embed
    # chunk text for the embedding table comes from `flat` (kind='n' chunk
    # rows carry it on a dedicated column): no second html→text+chunk
    # Python crossing of the corpus
    chunk_texts = (flat.filter((F.col("kind") == "n")
                               & F.col("chunk_text").isNotNull())
                   .select("url", "chunk_id",
                           F.col("chunk_text").alias("text")))
    res.chunk_embeddings = embed.chunk_embeddings(chunk_texts)
    return res


def checkpoint_pair(nodes: DataFrame,
                    edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Eagerly `localCheckpoint` two independent merged slices
    CONCURRENTLY (one Spark job each, submitted from two threads)."""
    with ThreadPoolExecutor(2) as pool:
        f_nodes = pool.submit(nodes.localCheckpoint)
        f_edges = pool.submit(edges.localCheckpoint)
        return f_nodes.result(), f_edges.result()


def kg_from_merged(entity_merged: DataFrame, rel_merged: DataFrame,
                   chunk_nodes: DataFrame, has_edges: DataFrame,
                   cfg: PipelineConfig,
                   alias_dict: Optional[DataFrame] = None) -> KGResult:
    """Everything after the merge: union the merged entity/relationship
    slices with the pass-through chunk nodes / HAS edges → link → CC →
    canonical rewrite. The one post-merge definition shared by the batch
    build (kg_from_flat) and the incremental finalize
    (streaming.ingest.finalize_incremental); `entity_merged` and
    `rel_merged` are expected checkpointed. The result has no
    `chunk_embeddings`."""
    nodes = entity_merged.unionByName(
        chunk_nodes.select(*entity_merged.columns))
    edges = rel_merged.unionByName(
        has_edges.select(*rel_merged.columns))

    # entity linking + canonicalization (north rule; beyond the reference's
    # exact-(label,id) MERGE — ref code/pdf_graphrag.py:277-300).
    # Uses the checkpointed entity slice directly (not the union) so the
    # linking plan never rescans the pass-through slices.
    sim = linking.similarity_edges(
        entity_merged, cfg.minhash_permutations, cfg.lsh_bands,
        cfg.shingle_size, cfg.jaccard_threshold, cfg.link_types,
    )
    if alias_dict is not None:
        sim = sim.unionByName(
            linking.alias_dictionary_links(entity_merged, alias_dict))
    # lazy: materializes at the mapping probe (first consumer) — one job
    # submission instead of an eager-checkpoint job + a probe job
    sim = sim.localCheckpoint(eager=False)
    # mapping is small (linked distinct names) and usually driver-built —
    # no checkpoint needed; rewrite broadcasts it
    mapping = components.canonical_mapping(
        entity_merged.select("id", "type"), sim, cfg.max_cc_iterations)

    canonical_nodes, canonical_edges = rewrite_canonical(nodes, edges, mapping)
    return KGResult(nodes, edges, sim, mapping,
                    canonical_nodes, canonical_edges)


def strict_filter(nodes_raw: DataFrame, edges_raw: DataFrame,
                  allowed_entities, allowed_relationships):
    """N9 strict-mode filter as DataFrame ops (ref _filter_by_strict_mode,
    code/pdf_graphrag.py:509-564): Chunk nodes and HAS edges are exempt
    (ref :539-541, :555-557); edges to dropped nodes are dropped via
    per-chunk semi-joins. A None list means UNRESTRICTED for that
    dimension — passing only allowed_entities must not silently drop
    every non-HAS relationship (and vice versa)."""
    if allowed_entities is None:
        kept = nodes_raw
    else:
        kept = nodes_raw.filter(
            (F.col("type") == "Chunk")
            | F.col("type").isin(list(allowed_entities)))
    if allowed_relationships is None:
        e = edges_raw
    else:
        e = edges_raw.filter(
            (F.col("pred") == "HAS")
            | F.col("pred").isin(list(allowed_relationships)))
    kn = kept.select("url", "chunk_id", F.col("id").alias("_kid"),
                     F.col("type").alias("_ktype"))
    e = e.join(kn, (e["url"] == kn["url"]) & (e["chunk_id"] == kn["chunk_id"])
               & (e["subj"] == kn["_kid"]) & (e["subj_type"] == kn["_ktype"]),
               "left_semi")
    e = e.join(kn, (e["url"] == kn["url"]) & (e["chunk_id"] == kn["chunk_id"])
               & (e["obj"] == kn["_kid"]) & (e["obj_type"] == kn["_ktype"]),
               "left_semi")
    return kept, e


def rewrite_canonical(nodes: DataFrame, edges: DataFrame,
                      mapping: DataFrame):
    """Rewrites node ids / edge endpoints to canonical ids and re-dedups.

    The inputs are ALREADY merged per key; canonicalization only perturbs
    rows that touch a linked name. Re-merging the whole table would shuffle
    the dominant (stable) row class for nothing — instead each table splits
    on ONE broadcast map `flagged(type, id) -> canon` covering the touched
    key set (aliases ∪ canonical targets, targets mapping to themselves):
    a single broadcast left join per endpoint both classifies the row
    (touched ⇔ canon non-null) and rewrites it, so every big table is
    scanned exactly twice (merge side / stable side) instead of once per
    semi/anti/rewrite join. The split is collision-safe: a stable row can
    only collide with a rewritten row at a canonical-target key, and every
    row carrying a target key has canon non-null by construction, routing
    it to the merge side.
    """
    # flagged: every alias AND every canonical target, each with its canon
    # (targets map to themselves) — one broadcast serves split + rewrite
    flagged = F.broadcast(
        mapping.unionByName(
            mapping.select("type",
                           F.col("canonical_id").alias("id"),
                           F.col("canonical_id")))
        .dropDuplicates(["type", "id"]))

    # chunk nodes are never linked (mapping covers entity types only) —
    # route them around the re-merge so chunk text stays out of the shuffle
    chunk_nodes = nodes.filter(F.col("type") == "Chunk")
    entities = (nodes.filter(F.col("type") != "Chunk")
                .join(flagged, ["type", "id"], "left"))
    # occ = hash of the PRE-rewrite identity: when two aliases from the
    # same first-witness (url, chunk_id) collapse into one canonical key,
    # the property-merge tie-break is deterministic (arbitrary-but-stable;
    # alias-collapse priority has no reference semantics to match)
    ent_rewritten = (
        entities.filter(F.col("canonical_id").isNotNull())
        .withColumn("occ", F.xxhash64("type", "id"))
        .drop("id").withColumnRenamed("canonical_id", "id"))
    ent_stable = entities.filter(F.col("canonical_id").isNull())
    canon_nodes = (
        merge.merge_nodes(ent_rewritten)
        .unionByName(ent_stable.select(*merge.NODE_COLS))
        .unionByName(chunk_nodes.select(*merge.NODE_COLS)))

    fs = flagged.select(F.col("type").alias("subj_type"),
                        F.col("id").alias("subj"),
                        F.col("canonical_id").alias("subj_canon"))
    fo = flagged.select(F.col("type").alias("obj_type"),
                        F.col("id").alias("obj"),
                        F.col("canonical_id").alias("obj_canon"))
    cols = [*merge.EDGE_KEYS, "properties", "url", "chunk_id"]

    # chunk-HAS only — entity-entity HAS edges are ordinary relationships
    # (see chunk_has) and take the rels path, where both endpoints rewrite
    rels = (edges.filter(~chunk_has())
            .join(F.broadcast(fs), ["subj_type", "subj"], "left")
            .join(F.broadcast(fo), ["obj_type", "obj"], "left"))
    touched_rel = (F.col("subj_canon").isNotNull()
                   | F.col("obj_canon").isNotNull())
    rel_rewritten = (
        rels.filter(touched_rel)
        .withColumn("occ", F.xxhash64("subj", "obj"))  # pre-rewrite identity
        .withColumn("subj", F.coalesce("subj_canon", "subj"))
        .withColumn("obj", F.coalesce("obj_canon", "obj"))
        .select(*cols, "occ"))
    rel_stable = rels.filter(~touched_rel)

    # HAS edges: only same-chunk alias collapses can duplicate them, and a
    # HAS edge can only change through its OBJECT (subj is a chunk, never
    # linked). Rows at a touched object key (rewritten OR already at a
    # target) dedup together (tiny slice); the rest cannot collide.
    has = (edges.filter(chunk_has())
           .join(F.broadcast(fo), ["obj_type", "obj"], "left"))
    has_touched = (has.filter(F.col("obj_canon").isNotNull())
                   .withColumn("obj", F.col("obj_canon"))
                   .select(*cols).dropDuplicates(merge.EDGE_KEYS))
    has_stable = has.filter(F.col("obj_canon").isNull()).select(*cols)
    canon_edges = (
        merge.merge_edges(rel_rewritten).select(*cols)
        .unionByName(rel_stable.select(*cols))
        .unionByName(has_touched)
        .unionByName(has_stable)
    )
    return canon_nodes, canon_edges


def build_and_write(spark: SparkSession, pages: DataFrame, out_dir: str,
                    cfg: PipelineConfig = PipelineConfig(),
                    alias_dict: Optional[DataFrame] = None) -> KGResult:
    """build_kg + write_kg."""
    return write_kg(build_kg(spark, pages, cfg, alias_dict), out_dir, cfg)


def write_kg(res: KGResult, out_dir: str,
             cfg: PipelineConfig = PipelineConfig()) -> KGResult:
    """V4-gated materialize (gate ref legal_graphrag.py:619-626): when
    cfg.confidence_threshold is set, the graph commits ONLY if
    mean(V1..V3) ≥ threshold; below it, only the metrics table is written
    ("recommend human review") and `res.committed` is False. Ungated runs
    (threshold None) always commit, with the embeddings table alongside;
    a committed graph's totals land on `res.node_total`/`res.edge_total`."""
    from ..operators import embed, validate

    if cfg.confidence_threshold is not None:
        scores = validate.validation_scores(res.canonical_nodes)
        if scores["confidence"] < cfg.confidence_threshold:
            (materialize.graph_metrics(res.canonical_nodes,
                                       res.canonical_edges)
             .coalesce(1).write.mode("overwrite")
             .format("parquet").save(f"{out_dir}/metrics"))
            res.committed = False
            return res
        res.committed = True

    res.node_total, res.edge_total = materialize.write_graph(
        res.canonical_nodes, res.canonical_edges, out_dir,
        cfg.n_subject_buckets, cfg.hot_subject_salt)
    embed.write_embeddings(res.chunk_embeddings, out_dir,
                           cfg.n_subject_buckets)
    return res

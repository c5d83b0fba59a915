"""Pipeline configuration (pure dataclass; no Spark imports)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from .reference_impl import CHUNK_OVERLAP, CHUNK_SIZE


@dataclass(frozen=True)
class PipelineConfig:
    # chunking — ref: code/pdf_graphrag.py:825
    chunk_size: int = CHUNK_SIZE
    chunk_overlap: int = CHUNK_OVERLAP
    # language filter (input_hint lang column; reference processes one
    # document language at a time)
    supported_langs: tuple = ("en",)
    # chunk-node embeddings (ref code/pdf_graphrag.py:408) — off by default
    # in the hot path; similarity queries use the embeddings table
    with_chunk_embeddings: bool = False
    # strict-mode schema enforcement (ref code/pdf_graphrag.py:509-564)
    allowed_entities: Optional[List[str]] = None
    allowed_relationships: Optional[List[str]] = None
    # open-domain schema detection + refinement (E1+E3, ref
    # code/pdf_graphrag.py:577-687): when True and no explicit allowed
    # lists are given, a coarse-chunk (1200/200) detection pass proposes
    # the schema and extraction enforces it strict-mode — the reference's
    # two-pass detect→refine→extract flow
    auto_schema: bool = False
    schema_chunk_size: int = 1200   # ref code/pdf_graphrag.py:811
    schema_chunk_overlap: int = 200
    # entity linking (MinHash-LSH blocking; north rule)
    minhash_permutations: int = 64
    lsh_bands: int = 16           # 16 bands x 4 rows: recalls jaccard >~0.35
    jaccard_threshold: float = 0.8  # on normalized-name trigrams
    shingle_size: int = 3
    link_types: tuple = ("Person", "Organization", "Place")
    # connected components
    max_cc_iterations: int = 25
    # materialization — subject-hash partitioning + salting (north rule)
    n_subject_buckets: int = 32
    hot_subject_salt: int = 8
    # V4 confidence gate before sink commit (ref legal_graphrag.py:342,
    # :619-626): None = ungated (always commit); set to e.g. 0.99 to skip
    # the graph write when mean(V1..V3) falls below it
    confidence_threshold: Optional[float] = None

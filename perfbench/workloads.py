"""The benchmark's workloads and the checks on their outputs.

A run times the workload's own operation, driven by one client in a closed
loop. Every output is checked against the plain-Python oracle and, once it
is known, against the digest of ``build_and_write``'s graph over the same
pages. Traced runs compute that digest (the reference pass, which also
warms the JVM), then ``traced`` composes the workload's path from the
layers' public functions, forcing each layer's output inside its own span.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List

from pyspark.sql import functions as F

from llm_knowledge_graph_spark.config import PipelineConfig
from llm_knowledge_graph_spark.corpus import expected_alias_clusters
from llm_knowledge_graph_spark.operators import (checkpoint, components,
                                                 embed, extract, html_text,
                                                 linking, materialize, merge)
from llm_knowledge_graph_spark.plans.pipeline import (build_and_write,
                                                      rewrite_canonical)
from llm_knowledge_graph_spark.reference_impl import reference_pipeline
from llm_knowledge_graph_spark.sources.pages import read_pages
from llm_knowledge_graph_spark.streaming.ingest import (
    finalize_incremental, run_incremental_merge)

from . import inputs
from .digest import EDGE_COLS, NODE_COLS, graph_digest, read_graph

REPO = Path(__file__).resolve().parents[1]
MASTER = "local[4]"
N_PAGES = 600
N_FILES = 3
# subject buckets / salt sized for 4 local cores; the resumable CLI gets
# the same values through --buckets/--salt
CFG = PipelineConfig(n_subject_buckets=8, hot_subject_salt=2)
# tools/run_pipeline.py checkpoints extract into max(8, --buckets) buckets
CKPT_BUCKETS = max(8, CFG.n_subject_buckets)
RUN_ID = "run0"
OP_TIMEOUT_S = 170
EDGE_KEYS = EDGE_COLS[:5]


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class OpResult:
    seconds: float
    graph: tuple                     # (node rows, edge rows)
    units: int                       # operations it counts as (attempted)
    extra: Dict[str, object] = field(default_factory=dict)

    @property
    def digest(self) -> str:
        return graph_digest(*self.graph)


def dir_bytes(path: str, suffix: str = "") -> int:
    return sum(p.stat().st_size for p in Path(path).rglob(f"*{suffix}")
               if p.is_file())


def graph_bytes(out_dir: str) -> int:
    return dir_bytes(f"{out_dir}/nodes") + dir_bytes(f"{out_dir}/edges")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# reference pass and output checks
# ---------------------------------------------------------------------------

def golden_graph(table: inputs.PagesTable, seed: int) -> dict:
    """``reference_impl.reference_pipeline`` over the same pages."""
    return reference_pipeline(inputs.crawl_rows(table.rows, seed))


def triple_pr(res, golden: dict):
    """(precision, recall) of the merge-level (type, id) nodes and
    (subj, subj_type, pred, obj, obj_type) edges against the oracle."""
    want = ({("n", n["type"], n["id"]) for n in golden["nodes"]}
            | {("e",) + tuple(e[c] for c in EDGE_KEYS)
               for e in golden["edges"]})
    got = ({("n", r["type"], r["id"])
            for r in res.nodes.select("type", "id").collect()}
           | {("e",) + tuple(r) for r in res.edges.select(*EDGE_KEYS).collect()})
    hit = len(want & got)
    return hit / max(len(got), 1), hit / max(len(want), 1)


def reference_pass(spark, table: inputs.PagesTable, golden: dict, out: str):
    """build_and_write over the pages → (seconds, digest, (P, R))."""
    t0 = time.perf_counter()
    res = build_and_write(spark, read_pages(spark, table.path),
                          fresh_dir(out), CFG)
    seconds = time.perf_counter() - t0
    check(res.committed is None, "ungated build did not commit")
    pr = triple_pr(res, golden)
    spark.catalog.clearCache()
    graph = read_graph(out)
    digest = graph_digest(*graph)
    path = batch_digest_path(table)
    path.with_suffix(".tmp").write_text(digest)
    os.replace(path.with_suffix(".tmp"), path)
    return seconds, digest, pr


def _props(p) -> list:
    return sorted(dict(p).items())


def oracle_check(graph: tuple, golden: dict) -> None:
    """Checks a canonical graph's rows against the plain-Python oracle
    (``reference_impl.reference_pipeline``, merge-level): nodes of types
    linking never touches, and the edges between them, must equal the
    oracle's row for row; every linked entity must be an oracle entity;
    no edge may dangle."""
    nodes, edges = graph
    linked = set(CFG.link_types)

    def nkey(n):
        return (n["type"], n["id"], _props(n["properties"]))

    def ekey(e):
        return tuple(e[c] for c in EDGE_KEYS) + (
            _props(e["properties"]), e["url"], e["chunk_id"])

    def unlinked(e):
        return e["subj_type"] not in linked and e["obj_type"] not in linked

    check(sorted(nkey(n) for n in nodes if n["type"] not in linked)
          == sorted(nkey(n) for n in golden["nodes"]
                    if n["type"] not in linked),
          "chunk/term/section nodes differ from reference_impl")
    check(sorted(ekey(e) for e in edges if unlinked(e))
          == sorted(ekey(e) for e in golden["edges"] if unlinked(e)),
          "edges between unlinked nodes differ from reference_impl")
    keys = {(n["type"], n["id"]) for n in nodes}
    check(len(keys) == len(nodes), "duplicate canonical node keys")
    check(keys <= {(n["type"], n["id"]) for n in golden["nodes"]},
          "canonical node absent from reference_impl")
    check(all((e["subj_type"], e["subj"]) in keys
              and (e["obj_type"], e["obj"]) in keys for e in edges),
          "edge endpoint missing from the nodes table")


def batch_digest_path(table: inputs.PagesTable) -> Path:
    return Path(table.path).parent / "batch_digest.txt"


def cached_batch_digest(table: inputs.PagesTable):
    """The batch graph digest of these pages, if a run computed it."""
    try:
        return batch_digest_path(table).read_text()
    except OSError:
        return None


def link_pair_pr(ent_ids: List[str], mapping_rows) -> tuple:
    """Pairwise precision/recall of the linked Person clusters against
    the generator's alias clusters (``corpus.expected_alias_clusters``);
    a name outside every alias cluster is its own cluster."""
    truth = {v: i for i, c in enumerate(expected_alias_clusters()) for v in c}
    canon = {r["id"]: r["canonical_id"] for r in mapping_rows
             if r["type"] == "Person"}

    def pairs(key):
        groups: Dict[object, list] = {}
        for n in ent_ids:
            groups.setdefault(key(n), []).append(n)
        return {(a, b) for g in groups.values() for a in g for b in g if a < b}

    got = pairs(lambda n: canon.get(n, n))
    want = pairs(lambda n: truth.get(n, n))
    hit = len(got & want)
    return (hit / len(got) if got else 1.0,
            hit / len(want) if want else 1.0)


def canonicalize(spark, spans, ent, nodes, edges, out: str | None = None,
                 chunk_texts=None) -> tuple:
    """link → components → rewrite (→ materialize when ``out`` is given),
    each forced in its own span. Returns the canonical graph rows and the
    layer counters, counted outside the spans."""
    with spans.span("link"):
        sim = linking.similarity_edges(
            ent, CFG.minhash_permutations, CFG.lsh_bands, CFG.shingle_size,
            CFG.jaccard_threshold, CFG.link_types).localCheckpoint()
    with spans.span("cc"):
        mapping = components.canonical_mapping(
            ent.select("id", "type"), sim,
            CFG.max_cc_iterations).localCheckpoint()
    with spans.span("rewrite"):
        cn, ce = rewrite_canonical(nodes, edges, mapping)
        cn, ce = cn.localCheckpoint(), ce.localCheckpoint()
    if out is not None:
        with spans.span("materialize"):
            materialize.write_graph(cn, ce, out, CFG.n_subject_buckets,
                                    CFG.hot_subject_salt)
            embed.write_embeddings(embed.chunk_embeddings(chunk_texts), out,
                                   CFG.n_subject_buckets)

    mapping_rows = mapping.collect()
    persons = [r["id"] for r in
               ent.filter(F.col("type") == "Person").select("id").collect()]
    precision, recall = link_pair_pr(persons, mapping_rows)
    flagged = (mapping.select("type", "id")
               .unionByName(mapping.select(
                   "type", F.col("canonical_id").alias("id")))
               .distinct())
    fs = flagged.select(F.col("type").alias("subj_type"),
                        F.col("id").alias("subj"), F.lit(1).alias("_s"))
    fo = flagged.select(F.col("type").alias("obj_type"),
                        F.col("id").alias("obj"), F.lit(1).alias("_o"))
    touched = (nodes.join(flagged, ["type", "id"], "left_semi").count()
               + edges.join(F.broadcast(fs), ["subj_type", "subj"], "left")
               .join(F.broadcast(fo), ["obj_type", "obj"], "left")
               .filter(F.col("_s").isNotNull() | F.col("_o").isNotNull())
               .count())
    n_sim = sim.count()
    counters = {
        "link.names_in": ent.filter(
            F.col("type").isin(list(CFG.link_types))).count(),
        "link.sim_pairs": n_sim,
        "link.pair_precision": precision,
        "link.pair_recall": recall,
        "cc.edges_in": n_sim,
        "cc.mapping_rows": len(mapping_rows),
        "rewrite.rows_touched": touched,
    }
    if out is None:
        graph = ([r.asDict() for r in cn.collect()],
                 [r.asDict() for r in ce.collect()])
    else:
        graph = read_graph(out)
        per_bucket = [inputs.parquet_rows(str(d))
                      for d in Path(f"{out}/edges").glob("subj_bucket=*")]
        counters.update({
            "materialize.bytes_written": dir_bytes(out, ".parquet"),
            "materialize.files_written": sum(
                1 for _ in Path(out).rglob("*.parquet")),
            "materialize.bucket_rows_max_over_median":
                max(per_bucket) / statistics.median(per_bucket),
        })
    return graph, counters


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class CrawlIncremental:
    """The crawl distribution split into N_FILES parquet files, drained by
    ``run_incremental_merge`` (maxFilesPerTrigger=1, availableNow), then
    ``finalize_incremental`` through the collected canonical graph. An
    operation here is a micro-batch."""

    name = "crawl_incremental"

    def __init__(self, work: str, table: inputs.PagesTable):
        self.work, self.table = work, table

    def prepare(self, session) -> None:
        pass

    def _drain(self, spark, state: str):
        q = run_incremental_merge(spark, self.table.path, fresh_dir(state),
                                  fresh_dir(f"{state}_ckpt"), CFG,
                                  max_files_per_trigger=1)
        if not q.awaitTermination(OP_TIMEOUT_S):
            q.stop()
            raise CheckFailed("incremental drain timed out")
        check(q.exception() is None, f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        check(sum(p["numInputRows"] for p in progress) == self.table.rows,
              "stream scanned a different row count than the pages table")
        check(len(progress) == N_FILES, "expected one micro-batch per file")
        return [p["durationMs"]["triggerExecution"] / 1000 for p in progress]

    def op(self, session, out: str) -> OpResult:
        spark = session.get()
        state = f"{self.work}/inc_state"
        t0 = time.perf_counter()
        batch_s = self._drain(spark, state)
        t1 = time.perf_counter()
        _, _, cn, ce, _ = finalize_incremental(spark, state, CFG)
        graph = ([r.asDict() for r in cn.collect()],
                 [r.asDict() for r in ce.collect()])
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return OpResult(t2 - t0, graph, len(batch_s),
                        {"batch_s": batch_s, "finalize_s": t2 - t1})

    def traced(self, session, spans, out: str) -> OpResult:
        spark = session.get()
        state = f"{self.work}/inc_state"
        with spans.span("ingest"):
            batch_s = self._drain(spark, state)
        nkv = spark.read.parquet(f"{state}/nodes_kv").drop("batch")
        ekv = spark.read.parquet(f"{state}/edges_kv").drop("batch")
        with spans.span("merge"):
            ent = merge.assemble_merged(
                merge.kv_fold(nkv, ["id", "type"]), ["id", "type"]
            ).select(*NODE_COLS).localCheckpoint()
            rel = merge.assemble_merged(merge.kv_fold(ekv, EDGE_KEYS),
                                        EDGE_KEYS).localCheckpoint()
        chunk_nodes = spark.read.parquet(f"{state}/chunk_nodes").drop("batch")
        has_edges = spark.read.parquet(f"{state}/has_edges").drop("batch")
        nodes = ent.unionByName(chunk_nodes.select(*NODE_COLS))
        edges = rel.unionByName(has_edges.select(*rel.columns))
        graph, counters = canonicalize(spark, spans, ent, nodes, edges)
        merge_in = nkv.count() + ekv.count()
        counters.update({
            "extract.rows_out": extract.extract_pages_flat(
                html_text.filter_langs(read_pages(spark, self.table.path),
                                       CFG.supported_langs),
                CFG.chunk_size, CFG.chunk_overlap).count(),
            "merge.rows_in": merge_in,
            "merge.rows_out": ent.count() + rel.count(),
            "ingest.batches": len(batch_s),
            "ingest.state_bytes": dir_bytes(state, ".parquet"),
        })
        spark.catalog.clearCache()
        return OpResult(spans.total_seconds(), graph, len(batch_s), counters)


class CrawlResume:
    """``tools/run_pipeline.py --checkpoint-dir … --resume`` over a
    checkpoint restored (untimed) before each operation: half of the
    extract buckets committed plus one orphan, uncommitted bucket dir."""

    name = "crawl_resume"

    def __init__(self, work: str, table: inputs.PagesTable):
        self.work, self.table = work, table
        self.template = f"{work}/resume_template"
        self.ckpt = f"{work}/resume_ckpt"
        self.committed = list(range(CKPT_BUCKETS // 2))
        self.orphan = CKPT_BUCKETS // 2
        spec = importlib.util.spec_from_file_location(
            "perfbench_run_pipeline", REPO / "tools" / "run_pipeline.py")
        self.cli = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.cli)

    def _stage_dir(self, base: str) -> Path:
        return Path(base) / RUN_ID / "extract"

    def _pages_en(self, spark):
        # the CLI's own lang filter (tools/run_pipeline.py resumable branch)
        return read_pages(spark, self.table.path).filter(
            F.col("lang").isin(list(CFG.supported_langs)))

    def _stage_fn(self, df):
        return extract.extract_pages_flat(df, CFG.chunk_size,
                                          CFG.chunk_overlap)

    def prepare(self, session) -> None:
        """Writes the checkpoint template: a full resumable extract, then
        the manifest is cut back to the first half of the buckets and every
        later bucket dir but one is deleted. It is rebuilt in every run, so
        every run's JVM has run the extract code equally often before the
        timed operation."""
        spark = session.get()
        checkpoint.run_stage_resumable(
            spark, self._pages_en(spark), self._stage_fn,
            fresh_dir(self.template), RUN_ID, "extract", key_col="url",
            n_buckets=CKPT_BUCKETS)
        stage = self._stage_dir(self.template)
        m = json.loads((stage / checkpoint.MANIFEST).read_text())
        m["completed"] = self.committed
        (stage / checkpoint.MANIFEST).write_text(json.dumps(m))
        for b in range(self.orphan + 1, CKPT_BUCKETS):
            shutil.rmtree(stage / "data" / f"bucket={b}")
        present = sorted(int(d.name.split("=")[1])
                         for d in (stage / "data").glob("bucket=*"))
        check(present == self.committed + [self.orphan],
              "checkpoint template has the wrong bucket dirs")

    def _restore(self) -> set:
        shutil.copytree(self.template, fresh_dir(self.ckpt))
        return {str(p) for p in (self._stage_dir(self.ckpt) / "data"
                                 / f"bucket={self.orphan}").rglob("*.parquet")}

    def _check_resumed(self, orphans: set) -> None:
        m = json.loads((self._stage_dir(self.ckpt)
                        / checkpoint.MANIFEST).read_text())
        check(m["completed"] == list(range(CKPT_BUCKETS)),
              "resume left buckets uncommitted")
        check(not any(os.path.exists(p) for p in orphans),
              "orphan bucket files survived the resume")

    def op(self, session, out: str) -> OpResult:
        orphans = self._restore()
        session.stop()  # the resumed submission starts its own session
        argv = ["run_pipeline.py", "--pages", self.table.path,
                "--out", fresh_dir(out), "--checkpoint-dir", self.ckpt,
                "--run-id", RUN_ID, "--resume", "--master", MASTER,
                "--buckets", str(CFG.n_subject_buckets),
                "--salt", str(CFG.hot_subject_salt)]
        saved, sys.argv = sys.argv, argv
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(io.StringIO()):
                self.cli.main()
            seconds = time.perf_counter() - t0
        finally:
            sys.argv = saved
            session.forget()  # main() stopped the session it used
        self._check_resumed(orphans)
        return OpResult(seconds, read_graph(out), 1, {"resume_s": seconds})

    def traced(self, session, spans, out: str) -> OpResult:
        spark = session.get()
        orphans = self._restore()
        data = self._stage_dir(self.ckpt) / "data"
        loaded_bytes = sum(dir_bytes(str(data / f"bucket={b}"), ".parquet")
                           for b in self.committed)
        before = {str(p) for p in data.rglob("*.parquet")}
        with spans.span("checkpoint"):
            flat = checkpoint.run_stage_resumable(
                spark, self._pages_en(spark), self._stage_fn, self.ckpt,
                RUN_ID, "extract", key_col="url", n_buckets=CKPT_BUCKETS)
        self._check_resumed(orphans)
        written = sum(p.stat().st_size for p in data.rglob("*.parquet")
                      if str(p) not in before)
        nodes_raw = extract.nodes_from_flat(flat)
        edges_raw = extract.edges_from_flat(flat)
        ent_raw = nodes_raw.filter(F.col("type") != "Chunk")
        chunk_has = (F.col("pred") == "HAS") & (F.col("subj_type") == "Chunk")
        rel_raw = edges_raw.filter(~chunk_has)
        with spans.span("merge"):
            ent = merge.merge_nodes(ent_raw).localCheckpoint()
            rel = merge.merge_edges(rel_raw).localCheckpoint()
        nodes = ent.unionByName(nodes_raw.filter(F.col("type") == "Chunk")
                                .select(*ent.columns))
        edges = rel.unionByName(extract.has_edges_from_nodes(nodes_raw)
                                .select(*rel.columns))
        chunk_texts = (flat.filter((F.col("kind") == "n")
                                   & F.col("chunk_text").isNotNull())
                       .select("url", "chunk_id",
                               F.col("chunk_text").alias("text")))
        graph, counters = canonicalize(spark, spans, ent, nodes, edges,
                                       fresh_dir(out), chunk_texts)
        merge_in = ent_raw.count() + rel_raw.count()
        counters.update({
            "extract.rows_out": flat.count(),
            "merge.rows_in": merge_in,
            "merge.rows_out": ent.count() + rel.count(),
            "checkpoint.buckets_loaded": len(self.committed),
            "checkpoint.buckets_recomputed":
                CKPT_BUCKETS - len(self.committed),
            "checkpoint.orphans_removed": 1,
            "checkpoint.bytes_written": written,
            "checkpoint.bytes_read": loaded_bytes,
        })
        spark.catalog.clearCache()
        return OpResult(spans.total_seconds(), graph, 1, counters)


WORKLOADS = {w.name: w for w in (CrawlIncremental, CrawlResume)}

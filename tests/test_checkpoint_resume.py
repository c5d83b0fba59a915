"""North-rule: resumable per-partition checkpoints.

Kill-and-resume: a run interrupted after some buckets must, on resume,
produce output identical to an uninterrupted run, recomputing only the
missing buckets."""

import os
import re

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.heavy  # round-5 core/heavy split


def _extract_stage(df):
    """The stage the resumable CLI checkpoints (tools/run_pipeline.py)."""
    from llm_knowledge_graph_spark.operators import extract
    return extract.extract_pages_flat(df)


def _rows(df):
    """Every column, row-order-insensitive (repr-keyed: the flat rows
    carry nulls in different columns)."""
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()),
                  key=repr)


def test_resume_equals_uninterrupted(spark, pages_df, tmp_path):
    from llm_knowledge_graph_spark.operators.checkpoint import (
        completed_buckets, run_stage_resumable, with_bucket)

    base = str(tmp_path / "ckpt")
    n_buckets = 4

    # uninterrupted result
    full = _rows(_extract_stage(pages_df))

    # interrupted run: process only buckets {0, 1} then "crash"
    binp = with_bucket(pages_df, "url", n_buckets)
    part = binp.filter(F.col("bucket").isin([0, 1])).drop("bucket")
    out = _extract_stage(part)
    from llm_knowledge_graph_spark.operators.checkpoint import (
        _mark_completed, with_bucket as wb)
    (wb(out, "url", n_buckets).write.mode("append")
     .partitionBy("bucket")
     .parquet(os.path.join(base, "run1", "extract", "data")))
    _mark_completed(base, "run1", "extract", [0, 1],
                    extra={"n_buckets": n_buckets, "key_col": "url"})
    assert completed_buckets(base, "run1", "extract") == [0, 1]

    # resume: must recompute only buckets {2, 3}
    resumed = run_stage_resumable(
        spark, pages_df, _extract_stage, base, "run1", "extract",
        key_col="url", n_buckets=n_buckets)
    got = _rows(resumed)
    assert got == full
    assert completed_buckets(base, "run1", "extract") == [0, 1, 2, 3]


def test_fresh_run_writes_all_buckets(spark, pages_df, tmp_path):
    from llm_knowledge_graph_spark.operators.checkpoint import (
        completed_buckets, run_stage_resumable)

    base = str(tmp_path / "ckpt2")
    out = run_stage_resumable(
        spark, pages_df, _extract_stage, base, "runA", "extract",
        key_col="url", n_buckets=3)
    assert completed_buckets(base, "runA", "extract") == [0, 1, 2]
    # full ROW comparison (review finding, round 3: a count-only check
    # passes even if the write/read roundtrip corrupts values)
    want = _rows(_extract_stage(pages_df))
    got = _rows(out)
    assert got == want

    # second invocation is a no-op read of the checkpoint (nothing pending)
    again = run_stage_resumable(
        spark, pages_df, _extract_stage, base, "runA", "extract",
        key_col="url", n_buckets=3)
    assert _rows(again) == want


def test_materialize_roundtrip_and_bucket_pruning(spark, kg_result, tmp_path):
    from llm_knowledge_graph_spark.operators.materialize import (
        read_graph, write_graph)

    out = str(tmp_path / "graph")
    totals = write_graph(kg_result.canonical_nodes, kg_result.canonical_edges,
                         out, n_buckets=8, salt=2)
    nodes, edges = read_graph(spark, out)
    assert totals == _metrics_totals(spark, out)
    assert totals == (nodes.count(), edges.count())
    assert nodes.count() == kg_result.canonical_nodes.count()
    assert edges.count() == kg_result.canonical_edges.count()
    # subject-hash partition layout exists on disk → partition pruning works
    bucket_dirs = [d for d in os.listdir(os.path.join(out, "edges"))
                   if d.startswith("subj_bucket=")]
    assert len(bucket_dirs) > 1
    # a point lookup by subject prunes to a single bucket
    some_subj = edges.select("subj").first().subj
    pruned = edges.filter(F.col("subj") == some_subj)
    assert pruned.count() >= 1


def test_local_writes_have_no_checksum_sidecars(spark, tmp_path):
    """get_spark routes `file:` paths through RawLocalFileSystem: a local
    partitioned write leaves part files and no `.crc` sidecars (each
    sidecar cost one more `chmod` forked from the driver JVM)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    out = tmp_path / "t"
    (spark.range(40).withColumn("b", F.col("id") % 4)
     .write.partitionBy("b").parquet(str(out)))
    names = [p.name for p in out.rglob("*") if p.is_file()]
    assert sum(n.endswith(".parquet") for n in names) >= 4
    assert [n for n in names if n.endswith(".crc")] == []
    assert spark.read.parquet(str(out)).count() == 40


def _metrics_totals(spark, out):
    """(nodes, edges) from the `total` rows of {out}/metrics."""
    rows = spark.read.parquet(f"{out}/metrics").filter(
        F.col("kind") == "total").collect()
    totals = {r["key"]: r["n"] for r in rows}
    return totals["nodes"], totals["edges"]


def test_write_graph_computes_each_row_once(spark, tmp_path):
    """write_graph materializes its inputs once: the edges write, the
    nodes write and the metrics all read one copy, so a Python UDF in the
    input plans runs once per row — not once per consumer."""
    from llm_knowledge_graph_spark.operators.materialize import write_graph

    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(x):
        calls.add(1)
        return x

    # the counted column feeds every consumer: the table writes and the
    # metrics' per-type / per-pred aggregates
    n_nodes, n_edges = 40, 60
    nodes = (spark.range(n_nodes)
             .select(counted(F.concat(F.lit("n"), F.col("id").cast("string")))
                     .alias("id"))
             .withColumn("type", F.concat(F.lit("T"), F.length("id"))))
    edges = (spark.range(n_edges)
             .select(counted(F.concat(F.lit("n"), (F.col("id") % n_nodes)
                                      .cast("string"))).alias("subj"),
                     F.concat(F.lit("n"), ((F.col("id") + 1) % n_nodes)
                              .cast("string")).alias("obj"))
             .withColumn("pred", F.concat(F.lit("P"), F.length("subj"))))
    out = str(tmp_path / "graph_once")
    assert write_graph(nodes, edges, out, n_buckets=4, salt=2) == (
        n_nodes, n_edges)
    assert calls.value == n_nodes + n_edges
    assert _metrics_totals(spark, out) == (n_nodes, n_edges)


def test_cli_resumable_path_matches_build_kg(spark, pages_df, tmp_path):
    """The run_pipeline.py checkpoint branch must assemble the SAME graph
    as build_kg (round-1 gap: it silently omitted every HAS edge). Runs
    the CLI end-to-end in a subprocess with --checkpoint-dir, reads the
    materialized graph back, and compares canonical (type,id) node and
    (subj,pred,obj) edge sets against an in-process build_kg run."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.operators import materialize
    from llm_knowledge_graph_spark.plans.pipeline import build_kg

    repo = Path(__file__).resolve().parent.parent
    out = str(tmp_path / "cli_graph")
    proc = subprocess.run(
        [_sys.executable, str(repo / "tools" / "run_pipeline.py"),
         "--synthesize", "80", "--out", out,
         "--checkpoint-dir", str(tmp_path / "ckpt"),
         "--buckets", "8", "--master", "local[4]"],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the reported size is the metrics table's, not a recount
    printed = re.search(r"(\d+) nodes, (\d+) edges", proc.stdout)
    assert printed, proc.stdout[-2000:]
    assert tuple(map(int, printed.groups())) == _metrics_totals(spark, out)

    nodes, edges = materialize.read_graph(spark, out)
    got_nodes = {(r["type"], r["id"])
                 for r in nodes.select("type", "id").collect()}
    got_edges = {(r["subj"], r["pred"], r["obj"])
                 for r in edges.select("subj", "pred", "obj").collect()}

    res = build_kg(spark, pages_df, PipelineConfig())
    want_nodes = {(r["type"], r["id"]) for r in
                  res.canonical_nodes.select("type", "id").collect()}
    want_edges = {(r["subj"], r["pred"], r["obj"]) for r in
                  res.canonical_edges.select("subj", "pred", "obj").collect()}
    assert got_nodes == want_nodes
    assert got_edges == want_edges
    assert any(p == "HAS" for _, p, _ in got_edges)  # the omitted class


def test_torn_write_does_not_duplicate(spark, pages_df, tmp_path):
    """Exactly-once under a torn failure: data for a bucket written but the
    manifest NOT committed (crash between append and commit). Resume must
    clear the orphan and recompute — without the repair, the bucket's rows
    appear twice in the final output."""
    import os

    from llm_knowledge_graph_spark.operators.checkpoint import (
        _mark_completed, completed_buckets, run_stage_resumable, with_bucket)

    base = str(tmp_path / "ckpt")
    n_buckets = 4
    full = _rows(_extract_stage(pages_df))

    # commit buckets {0,1} properly...
    binp = with_bucket(pages_df, "url", n_buckets)
    part = binp.filter(F.col("bucket").isin([0, 1])).drop("bucket")
    (with_bucket(_extract_stage(part), "url", n_buckets)
     .write.mode("append")
     .partitionBy("bucket")
     .parquet(os.path.join(base, "r", "extract", "data")))
    _mark_completed(base, "r", "extract", [0, 1],
                    extra={"n_buckets": n_buckets, "key_col": "url"})
    # ...then TEAR bucket 2: data on disk, manifest never updated
    part2 = binp.filter(F.col("bucket") == 2).drop("bucket")
    (with_bucket(_extract_stage(part2), "url", n_buckets)
     .write.mode("append")
     .partitionBy("bucket")
     .parquet(os.path.join(base, "r", "extract", "data")))
    assert completed_buckets(base, "r", "extract") == [0, 1]

    resumed = run_stage_resumable(
        spark, pages_df, _extract_stage, base, "r", "extract",
        key_col="url", n_buckets=n_buckets)
    got = _rows(resumed)
    assert got == full  # no duplicated bucket-2 rows


def test_cli_checkpoint_branch_honors_feature_flags(spark, pages_df, tmp_path):
    """--auto-schema and --confidence-threshold must be honored by the
    checkpoint branch too (they were silently ignored there), and the
    embeddings table must be written. Gate-pass case: graph + embeddings
    land and the node set equals an in-process auto_schema build."""
    import os
    import subprocess
    import sys as _sys
    from pathlib import Path

    from llm_knowledge_graph_spark.config import PipelineConfig
    from llm_knowledge_graph_spark.operators import embed, materialize
    from llm_knowledge_graph_spark.plans.pipeline import build_kg

    repo = Path(__file__).resolve().parent.parent
    out = str(tmp_path / "cli_auto")
    proc = subprocess.run(
        [_sys.executable, str(repo / "tools" / "run_pipeline.py"),
         "--synthesize", "80", "--out", out,
         "--checkpoint-dir", str(tmp_path / "ckpt2"),
         "--auto-schema", "--confidence-threshold", "0.99",
         "--buckets", "8", "--master", "local[4]"],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert os.path.isdir(f"{out}/nodes") and os.path.isdir(f"{out}/embeddings")

    nodes, _ = materialize.read_graph(spark, out)
    got = {(r["type"], r["id"]) for r in nodes.select("type", "id").collect()}
    res = build_kg(spark, pages_df, PipelineConfig(auto_schema=True))
    want = {(r["type"], r["id"]) for r in
            res.canonical_nodes.select("type", "id").collect()}
    assert got == want
    emb = embed.read_embeddings(spark, out)
    assert emb.count() == res.chunk_embeddings.count()


def test_resume_with_changed_params_fails_fast(spark, pages_df, tmp_path):
    """Round-3 (manifest hardening): resuming with a different --buckets or
    key column must raise BEFORE the torn-state repair can destructively
    delete bucket dirs it wrongly considers pending."""
    import pytest as _pytest

    from llm_knowledge_graph_spark.operators.checkpoint import (
        run_stage_resumable)
    base = str(tmp_path / "ckpt_params")
    run_stage_resumable(spark, pages_df, _extract_stage, base, "runP",
                        "extract", key_col="url", n_buckets=3)
    with _pytest.raises(ValueError, match="n_buckets=3"):
        run_stage_resumable(spark, pages_df, _extract_stage, base, "runP",
                            "extract", key_col="url", n_buckets=5)
    with _pytest.raises(ValueError, match="key_col"):
        run_stage_resumable(spark, pages_df, _extract_stage, base, "runP",
                            "extract", key_col="lang", n_buckets=3)
    # matching params still resume cleanly (no-op read)
    out = run_stage_resumable(spark, pages_df, _extract_stage, base, "runP",
                              "extract", key_col="url", n_buckets=3)
    assert out.count() == _extract_stage(pages_df).count()


def test_resume_with_changed_stage_schema_fails_fast(spark, pages_df,
                                                     tmp_path):
    """Round-3 review finding: the manifest recorded the stage output
    schema but never validated it on resume — completed buckets written
    by an older stage_fn (e.g. before the `occ` column landed in the
    extract flat schema) would silently mix with new-schema buckets,
    null-filling the new columns on read. Resume with a drifted stage
    schema must raise before writing anything."""
    import json

    import pytest as _pytest

    from llm_knowledge_graph_spark.operators.checkpoint import (
        _manifest_path, run_stage_resumable)

    base = str(tmp_path / "ckpt_schema")
    run_stage_resumable(spark, pages_df, _extract_stage, base, "runS",
                        "extract", key_col="url", n_buckets=3)
    # reopen one bucket as pending, as a crash mid-run would leave it
    mp = _manifest_path(base, "runS", "extract")
    with open(mp) as f:
        manifest = json.load(f)
    manifest["completed"] = [0, 1]
    with open(mp, "w") as f:
        json.dump(manifest, f)

    def drifted_stage(df):
        return _extract_stage(df).withColumn("occ2", F.lit(1))

    with _pytest.raises(ValueError, match="schema changed"):
        run_stage_resumable(spark, pages_df, drifted_stage, base, "runS",
                            "extract", key_col="url", n_buckets=3)
    # the unchanged stage still resumes and completes
    out = run_stage_resumable(spark, pages_df, _extract_stage, base, "runS",
                              "extract", key_col="url", n_buckets=3)
    assert out.count() == _extract_stage(pages_df).count()

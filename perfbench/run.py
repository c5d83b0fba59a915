#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload crawl_incremental --seed 1 \
        --seconds 10 --trace 0

Runs the engine on ``local[4]`` against a pages table generated from the
seed, prints one ``name value unit`` line per metric and, last, one JSON
line ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` times
the workload's operation in a closed loop for ``--seconds`` and reports the
end-to-end metrics; ``--trace 1`` also runs the layer-by-layer composition
under a Spark event log and reports the per-layer metrics. The full record
(host fingerprint, every sample, digests) goes to
``perfbench/.work/records/``. Everything the run writes stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WORK = REPO / "perfbench" / ".work"
SETUP_REPEATS = 5


def _configure_env() -> None:
    """Before the JVM starts: workers import the engine from REPO whatever
    the cwd, and Spark's scratch space stays under WORK."""
    for d in ("tmp", "spark-local", "cache", "records"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # JVM-wide defaults, so sessions the engine's own CLI starts inherit them
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside WORK
        "--driver-java-options",
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
        "pyspark-shell"])


class Session:
    """The benchmark's own SparkSession, started on demand."""

    def __init__(self, conf: dict):
        self.conf, self.spark = conf, None

    def get(self):
        if self.spark is None:
            from llm_knowledge_graph_spark.session import get_spark

            from perfbench.workloads import MASTER
            self.spark = get_spark(app_name="perfbench", master=MASTER,
                                   extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = None

    def forget(self) -> None:
        """The session was stopped by code outside the benchmark."""
        self.spark = None


def _shutdown(session: Session) -> None:
    from pyspark import SparkContext

    from perfbench.tracing import stop_children
    session.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    stop_children()


def run(args) -> int:
    from perfbench import inputs, record, tracing, workloads as W

    sampler = tracing.RssSampler()
    sampler.start()
    t_run = time.perf_counter()
    phases = {}
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ["SPARK_DRIVER_MEM"],
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse")}
    log_dir = WORK / "eventlog" / f"{args.workload}-{os.getpid()}"
    if args.trace:
        W.fresh_dir(str(log_dir))
        log_dir.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    session = Session(conf)
    table = inputs.ensure_pages(str(WORK / "cache"), W.N_PAGES, args.seed,
                                W.N_FILES)
    run_dir = str(WORK / "run" / f"{args.workload}-{os.getpid()}")
    wl = W.WORKLOADS[args.workload](run_dir, table)

    setup_s = []
    for i in range(SETUP_REPEATS):
        if i:
            session.stop()
        t0 = time.perf_counter()
        session.get().range(0, 4096, numPartitions=4).count()
        setup_s.append(time.perf_counter() - t0)
    host = record.host_fingerprint(session.get())
    phases["setup"] = time.perf_counter() - t_run
    checks, failed, attempted = [], 0, 0
    out = f"{run_dir}/graph"
    golden = W.golden_graph(table, args.seed)

    def attempt(fn, *a):
        """One operation: its result, or None when it raised or failed a
        check (a failure never contributes a timing)."""
        nonlocal failed, attempted
        try:
            W.check(inputs.parquet_rows(table.path) == table.rows,
                    "pages table row count changed")
            res = fn(*a)
            W.oracle_check(res.graph, golden)
            batch = W.cached_batch_digest(table)
            W.check(batch is None or res.digest == batch,
                    f"graph digest {res.digest} != batch {batch}")
        except Exception as e:  # noqa: BLE001 - every failure is counted
            checks.append(f"{type(e).__name__}: {str(e)[:300]}")
            units = W.N_FILES if incremental else 1
            attempted += units
            failed += units
            return None
        attempted += res.units
        return res

    incremental = args.workload == "crawl_incremental"
    metrics = {}
    if not args.trace:
        wl.prepare(session)
        phases["prepare"] = time.perf_counter() - t_run
        ops = []
        t_start = time.perf_counter()
        while not ops or time.perf_counter() - t_start < args.seconds:
            res = attempt(wl.op, session, out)
            if res is not None:
                ops.append(res)
            elif time.perf_counter() - t_start >= args.seconds:
                break
        peak = sampler.stop()
        session.stop()
        ref_s, ref_digest = None, W.cached_batch_digest(table)
        phases["measure"] = time.perf_counter() - t_run
        rows = table.rows
        dps = [rows / o.seconds for o in ops]
        metrics = {
            "docs_per_s": (statistics.median(dps) if dps else 0.0, "1/s"),
            "setup_s": (statistics.median(setup_s), "s"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }
        extra = {
            "fail_frac": (failed / max(attempted, 1), "ratio"),
            "ops": (len(ops), "count"),
        }
        if ops:
            extra["op_s_p50"] = (statistics.median(o.seconds for o in ops), "s")
        batch_s = [b for o in ops for b in o.extra.get("batch_s", ())]
        if batch_s:  # the record keeps every batch for pooled percentiles
            extra["ingest_batch_s_p50"] = (statistics.median(batch_s), "s")
            extra["finalize_s"] = (statistics.median(
                o.extra["finalize_s"] for o in ops), "s")
        if ops and not incremental:
            extra["resume_s"] = (statistics.median(
                o.extra["resume_s"] for o in ops), "s")
            extra["graph_bytes_per_doc"] = (W.graph_bytes(out) / rows, "B/doc")
        samples = {"op_s": [o.seconds for o in ops], "batch_s": batch_s}
    else:
        # the batch graph of the same pages: cached for every later output
        # to equal, and the pass warms the JVM
        ref_s, ref_digest, (p, r) = W.reference_pass(
            session.get(), table, golden, f"{run_dir}/ref_graph")
        if (p, r) != (1.0, 1.0):
            checks.append(f"triple P/R vs reference_impl = {p:.6f}/{r:.6f}")
        wl.prepare(session)
        spans = tracing.Spans(session.get().sparkContext)
        traced = attempt(wl.traced, session, spans, out)
        session.stop()  # flushes the event log
        op4 = attempt(wl.op, session, out)
        with tracing.pinned(2):
            op2 = attempt(wl.op, session, out)
        session.stop()
        peak = sampler.stop()
        ok = [r is not None for r in (traced, op4, op2)]
        stats = tracing.layer_stats(
            tracing.read_event_log(str(log_dir)), spans)
        if ok[0]:
            metrics = _layer_metrics(args.workload, table, spans, stats,
                                     traced.extra)
        if all(ok):
            d4, d2 = table.rows / op4.seconds, table.rows / op2.seconds
            metrics.update({
                "docs_per_s": (d4, "1/s"), "docs_per_s_2c": (d2, "1/s"),
                "scale_eff_2v4": (d4 / (2 * d2), "ratio"),
                "trace.untraced_s": (op4.seconds, "s"),
                "trace.overhead_s": (traced.seconds - op4.seconds, "s"),
            })
        extra = {"fail_frac": (failed / max(attempted, 1), "ratio"),
                 "peak_rss_mb": (peak / 2**20, "MB")}
        samples = {"spans": spans.spans, "layer_stats": stats}
        phases["measure"] = time.perf_counter() - t_run

    correct = not checks
    shown = dict(metrics, **extra)
    for line in record.metric_lines(shown):
        print(line)
    rec_path = (WORK / "records"
                / f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    record.write_record(str(rec_path), {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": host, "pages": table.rows,
        "pages_sha256": table.sha256, "correct": correct, "checks": checks,
        "attempted": attempted, "failed": failed, "ref_digest": ref_digest,
        "setup_samples_s": setup_s, "reference_pass_s": ref_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "samples": samples, "phases_s": phases,
    })
    print(f"record {rec_path}", file=sys.stderr)
    for c in checks:
        print(f"check failed: {c}", file=sys.stderr)
    print(record.result_line(correct, attempted, failed, {
        name: metrics.get(name, (0.0, unit))
        for name, unit in _contract_metrics(args.trace)}))
    sys.stdout.flush()
    _shutdown(session)
    for d in (run_dir, log_dir):
        shutil.rmtree(d, ignore_errors=True)
    return 0


def _contract_metrics(trace: int) -> list:
    """(name, unit) of the metrics the JSON line carries."""
    import json
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"])
            for m in spec["per_layer" if trace else "end_to_end"]]


def _layer_metrics(workload, table, spans, stats, counters) -> dict:
    def g(span, key):
        return stats.get(span, {}).get(key, 0.0)

    # extract runs inside the micro-batches (incremental) or inside the
    # resumable stage (resume): its span is the Python-UDF stages there
    parent = "ingest" if workload == "crawl_incremental" else "checkpoint"
    ex_s = g(parent, "py_stage_s")
    incremental = workload == "crawl_incremental"
    c = counters
    s, B, n, x = "s", "B", "count", "ratio"
    finalize_layers = ("merge", "link", "cc", "rewrite")
    m = {
        "extract.self_s": (ex_s, s),
        "extract.task_s": (g(parent, "py_task_s"), s),
        "extract.gc_s": (g(parent, "py_gc_s"), s),
        "extract.rows_in": (table.en_rows, n),
        "extract.rows_out": (c["extract.rows_out"], n),
        "extract.py_bytes_sent": (g(parent, "py_bytes_sent"), B),
        "extract.py_bytes_recv": (g(parent, "py_bytes_recv"), B),
        "merge.self_s": (spans.seconds("merge"), s),
        "merge.rows_in": (c["merge.rows_in"], n),
        "merge.rows_out": (c["merge.rows_out"], n),
        "merge.rows_out_per_in": (c["merge.rows_out"] / c["merge.rows_in"], x),
        "merge.shuffle_write_bytes": (g("merge", "shuffle_write_bytes"), B),
        "merge.spill_bytes": (g("merge", "spill_bytes"), B),
        "link.self_s": (spans.seconds("link"), s),
        "link.task_s": (g("link", "task_s"), s),
        "link.names_in": (c["link.names_in"], n),
        "link.sim_pairs": (c["link.sim_pairs"], n),
        "link.shuffle_write_bytes": (g("link", "shuffle_write_bytes"), B),
        "link.pair_precision": (c["link.pair_precision"], x),
        "link.pair_recall": (c["link.pair_recall"], x),
        "cc.self_s": (spans.seconds("cc"), s),
        "cc.edges_in": (c["cc.edges_in"], n),
        "cc.mapping_rows": (c["cc.mapping_rows"], n),
        "cc.jobs": (g("cc", "jobs"), n),
        "rewrite.self_s": (spans.seconds("rewrite"), s),
        "rewrite.rows_touched": (c["rewrite.rows_touched"], n),
        "rewrite.shuffle_write_bytes": (g("rewrite", "shuffle_write_bytes"), B),
        "materialize.self_s": (spans.seconds("materialize"), s),
        "materialize.bytes_written": (c.get("materialize.bytes_written", 0), B),
        "materialize.files_written": (c.get("materialize.files_written", 0), n),
        "materialize.shuffle_write_bytes":
            (g("materialize", "shuffle_write_bytes"), B),
        "materialize.bucket_rows_max_over_median":
            (c.get("materialize.bucket_rows_max_over_median", 0), x),
        "ingest.self_s": ((spans.seconds("ingest") - ex_s)
                          if incremental else 0.0, s),
        "ingest.batches": (c.get("ingest.batches", 0), n),
        "ingest.jobs_per_batch": (g("ingest", "jobs") / c["ingest.batches"]
                                  if incremental else 0.0, n),
        "ingest.state_bytes": (c.get("ingest.state_bytes", 0), B),
        "ingest.finalize_self_s": (sum(spans.seconds(k)
                                       for k in finalize_layers)
                                   if incremental else 0.0, s),
        "checkpoint.self_s": (0.0 if incremental else
                              spans.seconds("checkpoint") - ex_s, s),
        "spark.jobs": (sum(v.get("jobs", 0) for v in stats.values()), n),
        "spark.stages": (sum(v.get("stages", 0) for v in stats.values()), n),
        "spark.tasks": (sum(v.get("tasks", 0) for v in stats.values()), n),
        "spark.gc_s": (sum(v.get("gc_s", 0) for v in stats.values()), s),
        "trace.total_s": (spans.total_seconds(), s),
    }
    for k in ("buckets_loaded", "buckets_recomputed", "orphans_removed",
              "bytes_written", "bytes_read"):
        m[f"checkpoint.{k}"] = (c.get(f"checkpoint.{k}", 0),
                                B if k.startswith("bytes") else n)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ("llm_knowledge_graph_spark/__init__.py",
                           "tools/run_pipeline.py", "BENCHMARK.json")
               if not (REPO / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing: {missing}", file=sys.stderr)
        return 2
    _configure_env()
    sys.path.insert(0, str(REPO))
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's own tests: input generation and its cache guard, the
order-independent digest, the oracle and linking checks, the record
format, and BENCHMARK.json against what a run reports. None of them start
Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from perfbench import digest, inputs, record  # noqa: E402


def test_generator_is_deterministic_per_seed():
    assert inputs.crawl_rows(40, 7) == inputs.crawl_rows(40, 7)
    assert inputs.crawl_rows(40, 7) != inputs.crawl_rows(40, 8)


def test_pages_table_is_reused_only_when_valid(tmp_path):
    t1 = inputs.ensure_pages(str(tmp_path), 30, 5, 3)
    assert t1.rows == 30 and inputs.parquet_rows(t1.path) == 30
    assert len(list(Path(t1.path).glob("*.parquet"))) == 3
    assert t1.en_rows == sum(r["lang"] == "en"
                             for r in inputs.crawl_rows(30, 5))
    assert inputs.ensure_pages(str(tmp_path), 30, 5, 3) == t1

    # a truncated file (an interrupted write) is detected and rewritten
    part = sorted(Path(t1.path).glob("*.parquet"))[1]
    part.write_bytes(part.read_bytes()[:100])
    t2 = inputs.ensure_pages(str(tmp_path), 30, 5, 3)
    assert t2 == t1 and inputs.parquet_rows(t2.path) == 30
    # no temporary directory is left behind
    assert [p.name for p in tmp_path.iterdir()] == [Path(t1.path).parent.name]


def _graph():
    nodes = [{"id": f"n{i}", "type": "Person", "properties": {"a": "1", "b": str(i)},
              "url": "u", "chunk_id": i} for i in range(20)]
    edges = [{"subj": f"n{i}", "subj_type": "Person", "pred": "KNOWS",
              "obj": f"n{i + 1}", "obj_type": "Person", "properties": {},
              "url": "u", "chunk_id": 0} for i in range(19)]
    return nodes, edges


def test_digest_is_order_independent():
    nodes, edges = _graph()
    base = digest.graph_digest(nodes, edges)
    rng = random.Random(1)
    shuffled = [dict(n, properties=list(reversed(list(n["properties"].items()))))
                for n in rng.sample(nodes, len(nodes))]
    assert digest.graph_digest(shuffled, rng.sample(edges, len(edges))) == base


def test_digest_sees_changed_missing_and_duplicated_rows():
    nodes, edges = _graph()
    base = digest.graph_digest(nodes, edges)
    changed = [dict(nodes[0], chunk_id=99)] + nodes[1:]
    assert digest.graph_digest(changed, edges) != base
    assert digest.graph_digest(nodes[1:], edges) != base
    assert digest.graph_digest(nodes + nodes[:1], edges) != base


def test_oracle_check_accepts_the_oracle_and_rejects_a_change():
    from perfbench import workloads as W
    from llm_knowledge_graph_spark.reference_impl import reference_pipeline

    golden = reference_pipeline(inputs.crawl_rows(40, 3))
    W.oracle_check((golden["nodes"], golden["edges"]), golden)

    section = next(i for i, n in enumerate(golden["nodes"])
                   if n["type"] == "Section")
    nodes = list(golden["nodes"])
    nodes[section] = dict(nodes[section], properties={"name": "x"})
    with pytest.raises(W.CheckFailed):
        W.oracle_check((nodes, golden["edges"]), golden)
    with pytest.raises(W.CheckFailed):  # dangling edge
        W.oracle_check(([n for n in golden["nodes"] if n["type"] != "Term"],
                        golden["edges"]), golden)


def test_link_pair_pr_against_the_generator_clusters():
    from perfbench.workloads import link_pair_pr

    names = ["John Doe", "Doctor John Doe", "John Doe Jr", "Jane Smith",
             "Jane Smith Jr", "Acme"]

    def mapping(pairs):
        return [{"type": "Person", "id": a, "canonical_id": b}
                for a, b in pairs]

    exact = mapping([("Doctor John Doe", "John Doe"),
                     ("John Doe Jr", "John Doe"),
                     ("Jane Smith Jr", "Jane Smith")])
    assert link_pair_pr(names, exact) == (1.0, 1.0)
    # a missed alias lowers recall only
    p, r = link_pair_pr(names, exact[:2])
    assert p == 1.0 and r == pytest.approx(3 / 4)
    # a wrong merge lowers precision only
    p, r = link_pair_pr(names, exact[:2] + mapping(
        [("Jane Smith", "John Doe"), ("Jane Smith Jr", "John Doe")]))
    assert p == pytest.approx(4 / 10) and r == 1.0


def test_record_lines_round_trip():
    metrics = {"docs_per_s": (12.3456789012345, "1/s"), "setup_s": (0.5, "s"),
               "extract.py_bytes_sent": (1234.0, "B")}
    text = "noise line\n" + "\n".join(record.metric_lines(metrics)) + "\n"
    assert record.parse_metric_lines(text) == metrics
    line = record.result_line(True, 3, 0, metrics)
    parsed = record.parse_result("x\n" + line + "\n")
    assert parsed["attempted"] == 3 and parsed["correct"] is True
    assert parsed["metrics"]["docs_per_s"] == {"value": 12.3456789012345,
                                               "unit": "1/s"}


def _spec():
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}", n)
               for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_result_lines_name_every_contract_metric_and_stay_short():
    from perfbench import run, tracing

    class Table:
        en_rows = 10

    counters = {k: 1 for k in ("extract.rows_out", "merge.rows_in",
                               "merge.rows_out", "link.names_in",
                               "link.sim_pairs", "link.pair_precision",
                               "link.pair_recall", "cc.edges_in",
                               "cc.mapping_rows", "rewrite.rows_touched",
                               "ingest.batches")}
    layers = run._layer_metrics("crawl_incremental", Table, tracing.Spans(),
                                {}, counters)
    layers.update({k: (1.0, "x") for k in (
        "docs_per_s", "docs_per_s_2c", "scale_eff_2v4", "trace.untraced_s",
        "trace.overhead_s")})
    spec = _spec()
    for key, produced in (("per_layer", layers),
                          ("end_to_end", {"docs_per_s", "setup_s",
                                          "peak_rss_mb"})):
        assert {m["name"] for m in spec[key]} <= set(produced)
    # worst case: every value printed with 17 significant digits
    wide = {m["name"]: (1.2345678901234567e-05, m["unit"])
            for m in spec["per_layer"]}
    assert len(record.result_line(True, 100, 0, wide)) < 2000

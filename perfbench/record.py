"""The run record: ``name value unit`` lines, the final JSON result line,
the full record file, and the host fingerprint."""

from __future__ import annotations

import json
import os
import platform
import re
from typing import Dict, Tuple

Metrics = Dict[str, Tuple[float, str]]

_LINE_RE = re.compile(r"^([A-Za-z0-9][A-Za-z0-9_.\-]*) (\S+) ([A-Za-z0-9_/%.\-]+)$")


def metric_lines(metrics: Metrics) -> list:
    return [f"{name} {value!r} {unit}" for name, (value, unit)
            in sorted(metrics.items())]


def parse_metric_lines(text: str) -> Metrics:
    """Inverse of metric_lines; lines that are not metric lines are
    skipped."""
    out: Metrics = {}
    for line in text.splitlines():
        m = _LINE_RE.match(line.strip())
        if not m:
            continue
        try:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
        except ValueError:
            continue
    return out


def result_line(correct: bool, attempted: int, failed: int,
                metrics: Metrics) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }, separators=(",", ":"))


def parse_result(stdout: str) -> dict:
    """The result object from a run's standard output (its last line)."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(obj)}")
    return obj


def host_fingerprint(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyarrow": __import__("pyarrow").__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "master": spark.sparkContext.master,
    }


def write_record(path: str, record: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)

"""Spans around layer calls, the Spark event-log reader that attributes
task metrics to spans, and process-tree helpers (RSS sampling, CPU
pinning, shutdown)."""

from __future__ import annotations

import glob
import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Tuple

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Spans:
    """Sequential spans: (name, start_ms, end_ms) on the wall clock, kept
    in memory; each call is tagged in the Spark UI/event log through
    setJobDescription."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: List[Tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobDescription(f"perfbench:{name}")
        start = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, start, time.time() * 1000))
            if self.sc is not None:
                self.sc.setJobDescription(None)

    def seconds(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name) / 1000

    def total_seconds(self) -> float:
        return sum(e - s for _, s, e in self.spans) / 1000


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> List[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def layer_stats(events: List[dict], spans: Spans) -> Dict[str, dict]:
    """Per span name: jobs, stages, tasks, task/GC seconds, shuffle write,
    spill, output bytes, Python bytes, and the wall time covered by stages
    that ran a Python UDF (``py_stage_s``). Jobs attribute to the span
    holding their submission time, stages and tasks to the span holding
    their launch time — spans are sequential, so each event lands in at
    most one span."""
    def owner(t_ms):
        for name, s, e in spans.spans:
            if s <= t_ms <= e:
                return name
        return None

    out: Dict[str, dict] = defaultdict(lambda: defaultdict(float))
    py_stage_iv: Dict[str, list] = defaultdict(list)
    py_stages = set()
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            name = owner(ev["Submission Time"])
            if name:
                out[name]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            name = owner(info["Launch Time"])
            if not name:
                continue
            st = out[name]
            st["tasks"] += 1
            st["task_s"] += tm.get("Executor Run Time", 0) / 1000
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                          ).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            st["output_bytes"] += (tm.get("Output Metrics") or {}
                                   ).get("Bytes Written", 0)
            py = {a.get("Name"): float(a.get("Update") or 0)
                  for a in info.get("Accumulables", [])
                  if a.get("Name") in (PY_SENT, PY_RECV)}
            if py:
                py_stages.add((ev["Stage ID"], ev["Stage Attempt ID"]))
                st["py_task_s"] += tm.get("Executor Run Time", 0) / 1000
                st["py_gc_s"] += tm.get("JVM GC Time", 0) / 1000
                st["py_bytes_sent"] += py.get(PY_SENT, 0)
                st["py_bytes_recv"] += py.get(PY_RECV, 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            name = owner(si.get("Submission Time", 0))
            if name:
                out[name]["stages"] += 1
                py_stage_iv[name].append(
                    ((si["Stage ID"], si["Stage Attempt ID"]),
                     si["Submission Time"], si["Completion Time"]))
    for name, ivs in py_stage_iv.items():
        out[name]["py_stage_s"] = _union_ms(
            (s, e) for sid, s, e in ivs if sid in py_stages) / 1000
    return {k: dict(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def tree_pids() -> List[int]:
    """This process and all its descendants (from /proc)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the ppid is the 2nd field after the parenthesised comm
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the summed RSS of the process tree until stopped."""

    interval_s = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def pin_tree(cpus) -> None:
    """Sets the CPU affinity of every thread of every process in the tree
    (driver, JVM, Python workers); threads and processes started later
    inherit it from their parent."""
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass


@contextmanager
def pinned(n_cpus: int):
    allowed = sorted(os.sched_getaffinity(0))
    pin_tree(set(allowed[:n_cpus]))
    try:
        yield
    finally:
        pin_tree(set(allowed))


def _gone(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reaps it if it is our child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_children(timeout_s: float = 30) -> None:
    """Terminates any descendant still running and waits for it to end."""
    me = os.getpid()
    pids = [p for p in tree_pids() if p != me]
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + timeout_s
    for p in pids:
        while not _gone(p) and time.time() < deadline:
            time.sleep(0.05)

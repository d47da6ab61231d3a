"""Layer spans recorded from outside the engine, plus Spark event-log
parsing, for the traced run.

``Spans`` keeps a stack of layers on the driver.  The benchmark pushes
a layer around each of its own calls (``with spans.layer("ingest")``),
and a profile hook pushes the layer of every engine function entered
from there, so work that an engine function starts inside another one
(the eager connected-components job inside ``build_graph``, the writes
inside ``run_kg``) is charged to the inner layer.  A layer's busy time
is its self time: wall time while it is the innermost layer.  Each
change of the innermost layer is also written to the Spark local
property ``perfbench.layer``, so every job in the event log carries the
layer that submitted it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

PROP = "perfbench.layer"
PHASE = "perfbench.phase"

# engine module -> layer; materialize.py holds two layers
_MODULES = {
    os.path.join("pipeline", "ingest.py"): "ingest",
    os.path.join("pipeline", "annotate.py"): "annotate",
    os.path.join("pipeline", "linking.py"): "linking",
    os.path.join("pipeline", "cc.py"): "cc",
    os.path.join("pipeline", "materialize.py"): "materialize",
    os.path.join("ops", "dedup.py"): "dedup",
    os.path.join("ops", "fanout.py"): "fanout",
}
_GRAPH_FUNCS = {"build_graph", "nodes_from_linked", "dict_canonical_names"}


def _code_layer(code) -> str | None:
    fn = code.co_filename
    if "phonlp_spark" not in fn:
        return None
    for suffix, layer in _MODULES.items():
        if fn.endswith(suffix):
            if layer == "materialize" and code.co_name in _GRAPH_FUNCS:
                return "graph"
            return layer
    return None


class Spans:
    def __init__(self, sc):
        self.sc = sc
        self.busy: dict[str, float] = {}
        self._stack: list[tuple[object, str]] = []  # (frame or None, layer)
        self._codes: dict[object, str | None] = {}
        self._tagged = None
        self._t = time.perf_counter()

    def _top(self) -> str:
        return self._stack[-1][1] if self._stack else "other"

    def _switch(self, push=None, pop=False):
        now = time.perf_counter()
        top = self._top()
        self.busy[top] = self.busy.get(top, 0.0) + now - self._t
        self._t = now
        if pop:
            self._stack.pop()
        if push is not None:
            self._stack.append(push)
        new = self._top()
        if new != self._tagged:
            self.sc.setLocalProperty(PROP, new)
            self._tagged = new

    def _hook(self, frame, event, arg):
        if event == "call":
            code = frame.f_code
            layer = self._codes.get(code, 0)
            if layer == 0:
                layer = self._codes[code] = _code_layer(code)
            if layer is not None:
                self._switch(push=(frame, layer))
        elif event == "return" and self._stack and self._stack[-1][0] is frame:
            self._switch(pop=True)

    @contextmanager
    def layer(self, name: str):
        self._switch(push=(None, name))
        try:
            yield
        finally:
            self._switch(pop=True)

    @contextmanager
    def active(self, phase: str):
        """Record spans for the duration of the block, and tag its jobs
        with ``phase`` (see ``layer_totals``)."""
        self.sc.setLocalProperty(PHASE, phase)
        self._t = time.perf_counter()
        sys.setprofile(self._hook)
        try:
            yield self
        finally:
            sys.setprofile(None)
            self._switch()
            self.sc.setLocalProperty(PROP, None)
            self.sc.setLocalProperty(PHASE, None)
            self._tagged = None


def _ms(a, b) -> float:
    return max(0.0, (b - a) / 1000.0)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                events += [json.loads(line) for line in f if line.strip()]
    return events


def _empty() -> dict:
    return {"jobs": 0, "write_job_s": 0.0, "tasks": 0,
            "failed_tasks": 0, "run_ms": [], "shuffle_write_mb": 0.0,
            "shuffle_records": 0, "spill_mb": 0.0, "output_mb": 0.0}


def layer_totals(events: list[dict], phase: str) -> dict:
    """Job and task totals per layer for the jobs submitted under
    ``phase``, keyed by each job's ``perfbench.layer``.  The extra key
    ``"kernel"`` totals every stage that runs the annotation kernel (a
    MapInPandas operator), whichever layer submitted it, and
    ``"first_kernel_job"`` is the index (in submission order within the
    phase) of the first job that runs it."""
    jobs, stage_job = {}, {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(PHASE) != phase:
                continue
            jobs[ev["Job ID"]] = {"layer": props.get(PROP), "span": [ev["Submission Time"]] * 2,
                                  "writes": False, "kernel": False}
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
            for si in ev["Stage Infos"]:
                if any('"MapInPandas"' in (r.get("Scope") or "") for r in si["RDD Info"]):
                    jobs[ev["Job ID"]]["kernel"] = True
        elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["span"][1] = ev["Completion Time"]
    kernel_stages = set()
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stage_job and any(
                    '"MapInPandas"' in (r.get("Scope") or "") for r in si["RDD Info"]):
                kernel_stages.add(si["Stage ID"])
    out: dict = {"kernel": _empty()}
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        job = jobs[stage_job[ev["Stage ID"]]]
        ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        written = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        job["writes"] |= written > 0
        recs = [out.setdefault(job["layer"], _empty())]
        if ev["Stage ID"] in kernel_stages:
            recs.append(out["kernel"])
        for rec in recs:
            rec["tasks"] += 1
            rec["failed_tasks"] += int(bool(ti.get("Failed")))
            rec["run_ms"].append(tm.get("Executor Run Time", 0))
            rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            rec["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            rec["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
            rec["output_mb"] += written / 2**20
    for job in jobs.values():
        rec = out.setdefault(job["layer"], _empty())
        rec["jobs"] += 1
        if job["writes"]:
            rec["write_job_s"] += _ms(*job["span"])
    for rec in out.values():
        runs = [r for r in rec.pop("run_ms") if r > 0]
        rec["task_skew"] = max(runs) / statistics.median(runs) if runs else 0.0
    order = sorted(jobs)
    out["first_kernel_job"] = next(
        (i for i, j in enumerate(order) if jobs[j]["kernel"]), len(order))
    out["total_jobs"] = len(order)
    return out

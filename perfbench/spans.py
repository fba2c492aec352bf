"""Spans around the layer entry points the KG build calls, attributed to
Spark work through job groups and an uncompressed Spark event log.

Each span sets its own Spark job group while it is open, so every job
submitted inside it carries ``spark.jobGroup.id`` in the event log; folding
the log by group splits task metrics by layer. Spans are kept in memory and
folded after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time
from collections import defaultdict

# Layer entry points, looked up where `plans/pipeline.py` calls them (the
# pipeline binds the catalog and canon functions at import time and imports
# the census inside the pages stage).
WRAPPED = [
    ("confluence2md_spark.plans.skew", "key_layout_census", lambda *a, **k: "census"),
    ("confluence2md_spark.plans.pipeline", "write_table", lambda df, wh, name, *a, **k: f"catalog.{name}.write"),
    ("confluence2md_spark.plans.pipeline", "load_table", lambda spark, wh, name, *a, **k: f"catalog.{name}.load"),
    ("confluence2md_spark.plans.pipeline", "build_canonical_map", lambda *a, **k: "canon_map"),
]

PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "number of output rows": "py_rows",
}


class Tracer:
    """Records spans (name, start, end, parent) and tags the Spark jobs
    submitted inside each one with the span's job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "group": f"perfbench-{os.getpid()}-{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    @contextlib.contextmanager
    def wrapped_layers(self):
        """Replace each entry point in WRAPPED with a span-opening wrapper for
        the duration of the block."""
        saved = []
        for mod_name, attr, namer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))

            def wrapper(*a, _orig=orig, _namer=namer, **k):
                with self.span(_namer(*a, **k)):
                    return _orig(*a, **k)

            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def subtree(self, root_id: int) -> list[dict]:
        ids, out = {root_id}, []
        for s in self.spans:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def _plan_python_rows(node: dict, out: set) -> None:
    if node.get("nodeName") == "MapInPandas":
        out.update(m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "number of output rows")
    for child in node.get("children", []):
        _plan_python_rows(child, out)


def read_event_log(event_dir: str) -> list[dict]:
    files = sorted(p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True) if os.path.isfile(p) and not os.path.basename(p).startswith("."))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(events: list[dict]) -> tuple[dict, list[dict]]:
    """Per job group: jobs, tasks, task metrics and the Python UDF metrics of
    the `mapInPandas` stages; plus every job as (id, group, submit ms)."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict = {}
    jobs: list[dict] = []
    python_rows_ids: set = set()
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_python_rows(e["sparkPlanInfo"], python_rows_ids)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append({"job": e["Job ID"], "group": group, "submit_ms": e["Submission Time"]})
            groups[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"])]
            g["tasks"] += 1
            g["tasks_failed"] += bool(e["Task Info"].get("Failed"))
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            g["task_run_ms"] += m.get("Executor Run Time", 0)
            g["task_cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            accs = info.get("Accumulables", [])
            if not any(a["Name"] == "data sent to Python workers" for a in accs):
                continue
            g = groups[stage_group.get(info["Stage ID"])]
            for a in accs:
                key = PY_METRICS.get(a["Name"])
                if key == "py_rows" and a["ID"] not in python_rows_ids:
                    continue
                if key:
                    g[key] += float(a["Value"])
    return groups, jobs


def unattributed_jobs(spans: list[dict], jobs: list[dict], root: dict) -> list[int]:
    """Jobs submitted while `root` was open that do not carry the group of
    a span in its subtree."""
    allowed = {s["group"] for s in spans}
    lo, hi = root["start"] * 1000, root["end"] * 1000
    return [j["job"] for j in jobs if lo <= j["submit_ms"] <= hi and j["group"] not in allowed]


def span_totals(groups: dict, spans: list[dict], name: str) -> dict:
    """Summed Spark metrics of every span called `name` in `spans`."""
    out: dict = defaultdict(float)
    for s in spans:
        if s["name"] == name:
            out["wall_s"] += s["end"] - s["start"]
            for k, v in groups.get(s["group"], {}).items():
                out[k] += v
    return out

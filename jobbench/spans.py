"""Spans around the job's layers, recorded from outside the program.

A span is opened around each call into a layer's public function: the
stage callables of ``StageStore.get_or_compute`` (through a subclass that
the benchmark passes as ``store=``), and the module attributes the job
looks up at call time (``ontology.*``, ``canon.canonical_mapping``,
``facts.upsert_facts_parquet``).  Each span tags the Spark jobs it starts
with ``setJobGroup``; after the traced pass the Spark UI's REST API gives
each job's stages, and so the executor time, shuffle, spill and task
skew of each layer.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass

from kgnorm import canon, facts, ontology
from kgnorm.checkpoints import StageStore

from proc import tree_cpu_s

# stage table → layer
STAGE_LAYER = {
    "mentions": "extract",
    "candidates": "link",
    "facts": "facts",
    "graph_base": "graph", "nodes": "graph", "edges": "graph", "triples": "graph",
    "canonical_facts": "canon", "canonical_triples": "canon",
    "metrics": "metrics",
}
UNTAGGED = "-"


@dataclass
class Span:
    name: str          # "<layer>/<call>"
    parent: str | None
    start: float
    end: float
    cpu_s: float       # process-tree CPU seconds inside the span

    @property
    def layer(self) -> str:
        return self.name.split("/")[0]

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; each tags its Spark jobs with group ``<tag>|<name>``."""

    def __init__(self, sc, tag: str) -> None:
        self.sc, self.tag = sc, tag
        self.spans: list[Span] = []
        self.stack: list[str] = []
        self.active = False

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.tag}|{name}", name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        self.stack.append(name)
        self._group(name)
        t0, c0 = time.time(), tree_cpu_s()
        try:
            yield
        finally:
            self.spans.append(Span(name, parent, t0, time.time(), tree_cpu_s() - c0))
            self.stack.pop()
            self._group(parent or UNTAGGED)

    @contextlib.contextmanager
    def traced_pass(self):
        self.active = True
        self._group(UNTAGGED)
        t0 = time.time()
        try:
            yield
        finally:
            self.active = False
            self.window = (t0, time.time())
            self.sc.setJobGroup("untraced", "untraced")

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Swap the job's module-level calls for span-recording wrappers."""
        targets = [
            (ontology, "load_fixture_ontology", "ontology/load"),
            (ontology, "broadcast_dictionary", "ontology/broadcast"),
            (canon, "canonical_mapping", "canon/mapping"),
            (facts, "upsert_facts_parquet", "append/upsert"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


class TracingStore(StageStore):
    """StageStore whose stage calls are spans.  ``get_or_compute`` is the
    span, not just ``write``: canon's connected-components loop runs eager
    Spark jobs while the ``compute`` callable builds its plan."""

    def __init__(self, base_dir: str, tracer: Tracer) -> None:
        super().__init__(base_dir)
        self.tracer = tracer

    def get_or_compute(self, spark, name, compute, resume=True, partition_by=None):
        with self.tracer.span(f"{STAGE_LAYER[name]}/{name}"):
            return super().get_or_compute(spark, name, compute, resume, partition_by)

    def write(self, df, name, partition_by=None):
        with self.tracer.span(f"{STAGE_LAYER[name]}/{name}.write"):
            super().write(df, name, partition_by)

    def read(self, spark, name):
        with self.tracer.span(f"{STAGE_LAYER[name]}/{name}.read"):
            return super().read(spark, name)


# ----------------------------------------------------------------------
# Spark REST API
# ----------------------------------------------------------------------

def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


def spark_jobs(sc, tag: str, timeout_s: float = 30.0) -> tuple[list[dict], dict]:
    """Finished jobs of groups ``<tag>|*`` and all stages by (id, attempt),
    once the UI's listener has caught up with them."""
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _get(sc, "jobs") if (j.get("jobGroup") or "").startswith(tag + "|")]
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(sc, "stages")}
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def layer_metrics(sc, tracer: Tracer, cores: int) -> dict[str, float]:
    """Per-layer wall/CPU/Spark figures of the traced pass, plus the pass's
    job count, core utilization, driver gap and unattributed share."""
    jobs, stages = spark_jobs(sc, tracer.tag)
    spans = tracer.spans
    t0, t1 = tracer.window
    wall = t1 - t0
    out: dict[str, float] = {}

    layers = {s.layer for s in spans}
    for layer in layers:
        # a span nested in a span of its own layer is already counted
        top = [s for s in spans if s.layer == layer and (s.parent or "/").split("/")[0] != layer]
        out[f"{layer}.wall_s"] = sum(s.wall_s for s in top)
        out[f"{layer}.cpu_s"] = sum(s.cpu_s for s in top)

    # each stage counts once, for the first job that ran it
    owner: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j)
    by_layer: dict[str, list[dict]] = {}
    for (sid, _att), st in stages.items():
        if sid in owner and st["status"] == "COMPLETE":
            layer = owner[sid]["jobGroup"].split("|", 1)[1].split("/")[0]
            by_layer.setdefault(layer, []).append(st)
    for j in jobs:
        layer = j["jobGroup"].split("|", 1)[1].split("/")[0]
        out[f"{layer}.spark_jobs"] = out.get(f"{layer}.spark_jobs", 0) + 1
    for layer, sts in by_layer.items():
        out[f"{layer}.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in sts)
        out[f"{layer}.spill_bytes"] = sum(s["diskBytesSpilled"] for s in sts)
        out[f"{layer}.failed_tasks"] = sum(s["numFailedTasks"] for s in sts)
        heavy = max(sts, key=lambda s: s["executorRunTime"])
        out[f"{layer}.task_skew"] = _task_skew(sc, heavy)
    out["canon.cc_jobs"] = sum(1 for j in jobs if j["jobGroup"].endswith("|canon/mapping"))
    out["canon.mapping_s"] = sum(s.wall_s for s in spans if s.name == "canon/mapping")

    all_stages = [s for ss in by_layer.values() for s in ss]
    intervals = [(max(t0, _epoch(j["submissionTime"])), min(t1, _epoch(j["completionTime"])))
                 for j in jobs if j.get("completionTime")]
    out["pass.spark_jobs"] = len(jobs)
    out["pass.core_util"] = sum(s["executorRunTime"] for s in all_stages) / 1000 / (wall * cores)
    out["pass.driver_gap_s"] = wall - _union_s(intervals)
    out["trace.unattributed_frac"] = (wall - sum(s.wall_s for s in spans if s.parent is None)) / wall
    out["pass.wall_s"] = wall
    return out


def _task_skew(sc, stage: dict) -> float:
    """Max ÷ median task run time of a stage (1.0 for a one-task stage)."""
    if stage["numCompleteTasks"] < 2:
        return 1.0
    q = _get(sc, f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
    med, mx = q["executorRunTime"]
    return mx / med if med else float(mx > 0)

"""Spans around calls into the package's layers, with Spark task metrics.

A span records name, layer, start, end and its parent span.  While a span
is open its id is the Spark job group, so every job the layer triggers can
be read back from the Spark status store (over py4j) when the run ends:
tasks, failed tasks, shuffle bytes written, spill, executor CPU and GC.
A layer's self time is its spans' durations minus the time their child
spans cover; root spans (layer ``root``) hold what no layer claims.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

LAYERS = [
    "extraction",
    "prompts",
    "llm_cache",
    "parsing",
    "gold_normalize",
    "entity_catalog",
    "linking",
    "matching",
    "metrics",
    "canonicalize",
    "reports",
    "lineage",
    "textstats",
    "dedup",
    "corpus",
]


class Tracer:
    """In-memory span recorder; read out with :meth:`layer_metrics`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # job groups are process-wide: each tracer gets its own id prefix
        self.prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.rows_out: dict[str, int] = {}

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], f"{span['layer']}:{span['name']}", False)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.prefix}-{len(self.spans)}",
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def add_rows(self, layer: str, n: int) -> None:
        self.rows_out[layer] = self.rows_out.get(layer, 0) + int(n)

    def _status_store(self) -> tuple[dict, dict]:
        """Jobs by job group and stage attempts by stage id, read from the
        status store in two py4j calls (as JSON, the REST API's form)."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                              "DefaultScalaModule$"), "MODULE$"))
        jobs: dict[str, list] = {}
        for job in json.loads(mapper.writeValueAsString(store.jobsList(None))):
            jobs.setdefault(job.get("jobGroup"), []).append(job)
        stage_list = store.stageList(None, False, False, self.sc._gateway.new_array(jvm.double, 0),
                                     jvm.java.util.ArrayList())
        stages: dict[int, list] = {}
        for st in json.loads(mapper.writeValueAsString(stage_list)):
            stages.setdefault(st["stageId"], []).append(st)
        return jobs, stages

    @staticmethod
    def _totals(jobs: list, stages: dict) -> dict:
        """Sum task metrics over every stage attempt the jobs ran."""
        tot = {"jobs": len(jobs), "tasks": 0, "tasks_failed": 0, "shuffle_write_b": 0,
               "spill_b": 0, "cpu_ns": 0, "gc_ms": 0}
        stage_ids = {sid for job in jobs for sid in job["stageIds"]}
        for sid in stage_ids:
            for st in stages.get(sid, []):
                if st["status"] == "SKIPPED":
                    continue
                tot["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                tot["tasks_failed"] += st["numFailedTasks"]
                tot["shuffle_write_b"] += st["shuffleWriteBytes"]
                tot["spill_b"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                tot["cpu_ns"] += st["executorCpuTime"]
                tot["gc_ms"] += st["jvmGcTime"]
        return tot

    def layer_metrics(self) -> dict:
        """Per-layer metrics plus the root spans' wall and unattributed time."""
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        acc = {
            layer: dict(self_s=0.0, rows_out=self.rows_out.get(layer, 0), jobs=0, tasks=0,
                        shuffle_write_mb=0.0, cpu_s=0.0, gc_s=0.0)
            for layer in LAYERS
        }
        out = {"tasks_failed": 0, "spill_mb": 0.0, "wall_s": 0.0, "unattributed_s": 0.0}
        jobs, stages = self._status_store()
        for s in self.spans:
            self_s = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            tot = self._totals(jobs.get(s["id"], []), stages)
            out["tasks_failed"] += tot["tasks_failed"]
            out["spill_mb"] += tot["spill_b"] / 1e6
            if s["layer"] == "root":
                out["wall_s"] += s["end"] - s["start"]
                out["unattributed_s"] += self_s
                continue
            a = acc[s["layer"]]
            a["self_s"] += self_s
            a["jobs"] += tot["jobs"]
            a["tasks"] += tot["tasks"]
            a["shuffle_write_mb"] += tot["shuffle_write_b"] / 1e6
            a["cpu_s"] += tot["cpu_ns"] / 1e9
            a["gc_s"] += tot["gc_ms"] / 1e3
        out["layers"] = acc
        return out

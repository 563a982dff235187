"""Spans around the benchmark's calls into each layer, and Spark's own job,
stage and operator metrics attributed to them.

A span sets the Spark job group to its id, so every job it launches carries
the span in the event log. Inside a span, ``plans.backfill`` jobs split by
the call site Spark records: jobs called from ``plans/backfill.py`` (the
re-count of the written partitions and the conf-hash read) and the write of
the ``__lineage`` side table are lineage; every other job computes and
writes the output. Stage metrics come from ``tools/stage_profile.collect``;
operators are mapped to stages through the SQL metric accumulators each
stage updated.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from tools.stage_profile import collect, iter_lines

# operator families of the per-layer metrics -> physical node-name test
FAMILIES = {
    "Window": lambda n: n == "Window",
    "HashAggregate": lambda n: n in ("HashAggregate", "ObjectHashAggregate"),
    "SortMergeJoin": lambda n: n == "SortMergeJoin",
    "Exchange": lambda n: n == "Exchange",
    "Scan": lambda n: n.startswith("Scan "),
    "FlatMapGroupsInPandas": lambda n: n == "FlatMapGroupsInPandas",
}
SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"


class Tracer:
    """In-memory spans (id, name, start, end, parent, run id). A disabled
    tracer records nothing and leaves the job group alone."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": f"{self.run_id}:{len(self.spans)}", "name": name,
               "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def with_self_time(self) -> list:
        """Spans plus ``self_s``: duration minus the union of the intervals
        its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append((s["start"], s["end"]))
        return [dict(s, self_s=s["end"] - s["start"] - covered(kids[s["id"]]))
                for s in self.spans]


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > hi:
            total += b - max(a, hi)
            hi = b
    return total


class EventLog:
    """Jobs, stages and SQL operators of one Spark event log."""

    def __init__(self, logdir: str):
        self.stages, _ = collect(logdir)
        self.jobs: dict = {}
        self.acc: dict = defaultdict(dict)  # stage id -> {accumulator id: value}
        self.acc_name: dict = {}  # accumulator id -> metric name
        self.acc_node: dict = {}  # SQL accumulator id -> plan node name
        lineage_execs: set = set()
        for line in iter_lines(logdir):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short") or "",
                    "execution": props.get("spark.sql.execution.id"),
                    "stages": ev.get("Stage IDs", []),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                for a in si.get("Accumulables", []):
                    try:
                        self.acc[si["Stage ID"]][a["ID"]] = float(a["Value"])
                    except (TypeError, ValueError):
                        continue
                    self.acc_name[a["ID"]] = a["Name"]
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                if "__lineage" in ev.get("physicalPlanDescription", ""):
                    lineage_execs.add(str(ev["executionId"]))
                self._walk(ev["sparkPlanInfo"])
        for j in self.jobs.values():
            j["lineage"] = ("plans/backfill.py" in j["call_site"]
                            or j["execution"] in lineage_execs)

    def _walk(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = node["nodeName"]
        for c in node.get("children", []):
            self._walk(c)

    # -- sums over a set of jobs ------------------------------------------
    def stage_ids(self, jobs) -> set:
        return {s for j in jobs for s in j["stages"] if self.stages.get(s, {}).get("tasks")}

    def executor_s(self, jobs) -> float:
        return sum(self.stages[s]["run"] for s in self.stage_ids(jobs)) / 1000.0

    def spill_mb(self, jobs) -> float:
        return sum(self.stages[s]["spill"] for s in self.stage_ids(jobs)) / 1e6

    def input_rows(self, jobs) -> int:
        return sum(self.stages[s]["in_rows"] for s in self.stage_ids(jobs))

    def shuffle_write_mb(self, jobs) -> float:
        return sum(v for s in self.stage_ids(jobs) for a, v in self.acc[s].items()
                   if self.acc_name.get(a) == SHUFFLE_BYTES) / 1e6

    # -- operator families ------------------------------------------------
    def family_executor_s(self, jobs, family: str) -> float:
        """Executor seconds of the stages that ran an operator of the
        family (stages hold several operators: shares overlap)."""
        test = FAMILIES[family]
        return sum(
            self.stages[s]["run"] for s in self.stage_ids(jobs)
            if any(test(self.acc_node.get(a, "")) for a in self.acc[s])
        ) / 1000.0

    def family_metric(self, jobs, family: str, metric: str) -> float:
        """Final value of ``metric`` summed over the family's operators.
        SQL accumulators are cumulative, so a node that ran in several
        stages counts its largest value once."""
        test = FAMILIES[family]
        final: dict = {}
        for s in self.stage_ids(jobs):
            for a, v in self.acc[s].items():
                if self.acc_name.get(a) == metric and test(self.acc_node.get(a, "")):
                    final[a] = max(final.get(a, 0.0), v)
        return sum(final.values())


def jobs_by_span(log: EventLog, spans: list) -> dict:
    """span id -> the finished jobs launched under its job group."""
    ids = {s["id"] for s in spans}
    out = defaultdict(list)
    for j in log.jobs.values():
        if j["group"] in ids and j["end"] is not None:
            out[j["group"]].append(j)
    return out


def driver_s(span: dict, jobs: list) -> float:
    """Span time that no Spark job of the span covers."""
    ivs = [(max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs]
    return span["end"] - span["start"] - covered([iv for iv in ivs if iv[1] > iv[0]])

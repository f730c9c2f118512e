"""Layer spans for the traced run.

A span wraps the benchmark's call into one package module (a *layer*).
Inside a span the Spark job group is set to the span's id, so jobs and
tasks are attributed through ``statusTracker`` when the span closes and
shuffle/spill bytes through the event log after the session stops.
Spans are kept in memory and folded into per-layer metrics at the end.
With tracing off every method is a no-op.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "session",
    "state",
    "canonicalize",
    "kernels",
    "expansion",
    "mining",
    "evaluate",
    "extract",
    "storage",
    "streaming",
)
COMMON = ("self_s", "jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "rows_out")

# layer-specific metrics, filled by the workloads through Tracer.put
EXTRA = (
    "kernels.candidate_rows",
    "expansion.survival_ratio",
    "mining.rules_kept_ratio",
    "mining.binding_groups",
    "extract.triples_per_doc",
    "storage.bytes_written",
    "storage.files_written",
    "storage.bytes_per_input_byte",
    "streaming.batches",
    "streaming.batch_ms",
    "streaming.add_batch_ms",
    "streaming.planning_ms",
    "streaming.wal_commit_ms",
    "streaming.backlog_files_max",
    "streaming.generator_lag_ms",
    "streaming.persisted_rdds_end",
    "session.start_s",
    "session.peak_rss_mb",
    "tracing.setup_overhead_s",
    "tracing.latency_overhead_ms",
)


def layer_metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer in LAYERS for m in COMMON] + list(EXTRA)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Extra session conf of the traced run: the event log, and enough
    retained jobs/stages for statusTracker to see a whole span."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.values: dict[str, float] = {}
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach the live SparkContext, or detach with None (spans opened
        while detached, like the session start itself, carry no job
        group)."""
        if self.enabled:
            self._sc = spark.sparkContext if spark is not None else None

    def put(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name] = float(value)

    def add_rows(self, layer: str, rows: int) -> None:
        if self.enabled:
            key = f"{layer}.rows_out"
            self.values[key] = self.values.get(key, 0.0) + rows

    @contextmanager
    def span(self, layer: str, group: str | None = None):
        """Time one call into ``layer``.  ``group`` names a job group the
        jobs already run under (a streaming query's run id); otherwise
        the span sets its own group on this thread."""
        if not self.enabled:
            yield
            return
        own = group is None
        rec = {
            "layer": layer,
            "group": group or f"perfbench-{len(self.spans)}-{layer}",
            "parent": self._stack[-1]["group"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if own and self._sc is not None:
            self._sc.setJobGroup(rec["group"], layer)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if own:
                    parent = rec["parent"]
                    self._sc.setLocalProperty("spark.jobGroup.id", parent)
                rec.update(self._job_counts(rec["group"]))

    def _job_counts(self, group: str) -> dict:
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def layer_metrics(self, event_log_dir: str | None) -> dict[str, float]:
        """Fold spans, counters and the event log into the per-layer
        metric set (every name of ``layer_metric_names``)."""
        out = {name: 0.0 for name in layer_metric_names()}
        by_group = {s["group"]: s for s in self.spans}
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            layer = s["layer"]
            out[f"{layer}.self_s"] += (s["end"] - s["start"]) - child_time[s["group"]]
            for k in ("jobs", "tasks", "failed_tasks"):
                out[f"{layer}.{k}"] += s.get(k, 0)
        if event_log_dir:
            for group, (shuffle, spill) in shuffle_and_spill(event_log_dir).items():
                if group in by_group:
                    layer = by_group[group]["layer"]
                    out[f"{layer}.shuffle_write_bytes"] += shuffle
                    out[f"{layer}.spill_bytes"] += spill
        out.update(self.values)
        return out


def shuffle_and_spill(log_dir: str) -> dict[str, tuple[int, int]]:
    """job group -> (shuffle bytes written, disk bytes spilled), summed
    over the tasks of every job submitted in that group, across all the
    applications (one per session start) logged under ``log_dir``."""
    totals: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for app, _, files in os.walk(log_dir):
        stage_group: dict[int, str] = {}  # stage ids restart with each application
        for fn in sorted(f for f in files if f.startswith("events_")):
            with open(os.path.join(app, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            for sid in ev.get("Stage IDs", []):
                                stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        if group:
                            metrics = ev.get("Task Metrics") or {}
                            t = totals[group]
                            t[0] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                            t[1] += metrics.get("Disk Bytes Spilled", 0)
    return {g: (v[0], v[1]) for g, v in totals.items()}

"""Per-layer trace: spans kept in memory plus the Spark event log.

The traced run tags every layer call with a Spark job group named after
the layer and records a span (layer, wall-clock start and end) around
it, from the benchmark's side of the call. After the session stops, the
uncompressed event log is parsed once and every job, task and SQL metric
is attributed to the span it ran in:

- a job belongs to the layer whose job group it carries, or else (jobs
  that Spark starts from its own threads, e.g. broadcast exchanges) to
  the span its submission time falls in;
- a task belongs to the job that first listed its stage.

Per layer this yields the eight ``<layer>.<metric>`` values below, plus
the useful-work ratios and bytes-per-row values in ``EXTRA``, which the
workloads measure themselves. A layer the workload does not call reports
0 throughout.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

#: module-named layers; README.md lists the public functions timed
LAYERS = (
    "operators.assemble",
    "operators.classify",
    "functions.udfs.geometry_meta",
    "functions.udfs.way_cells",
    "functions.udfs.point_cells",
    "operators.skew",
    "operators.spatial.pip",
    "operators.spatial.knn",
    "operators.spatial.tile",
    "operators.polylines",
    "sources.tables",
    "plans.manifest",
    "operators.dedup",
    "operators.similarity",
    "operators.images",
)
#: per-layer metric -> unit
METRICS = {
    "busy_s": "s",
    "tasks": "count",
    "task_max_s": "s",
    "util": "ratio",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "jobs": "count",
    "rows_out": "rows",
}
#: useful-work ratios and output sizes, measured where the work happens
EXTRA = {
    "operators.spatial.pip.candidates_per_hit": "ratio",
    "operators.dedup.candidates_per_pair": "ratio",
    "sources.tables.bytes_per_row": "B",
    "plans.manifest.bytes_per_row": "B",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_JOIN_NODES = ("Join", "CartesianProduct")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name, in output order, with its unit."""
    out = {f"{layer}.{m}": u for layer in LAYERS for m, u in METRICS.items()}
    out.update(EXTRA)
    return out


class Tracer:
    """Spans around layer calls; counts the layer's output rows."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.rows_out: dict[str, int] = defaultdict(int)
        self.extra: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def busy_s(self, layer: str) -> float:
        return sum(t1 - t0 for name, t0, t1 in self.spans if name == layer)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _acc_update(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def layer_metrics(tracer: Tracer, event_dir: str, cores: int) -> dict[str, float]:
    """Parse the event log and fold jobs/tasks into per-layer metrics.

    A layer the workload never calls reports 0 for every metric."""
    names = {name for name, _, _ in tracer.spans}
    windows = sorted((t0 * 1000.0, t1 * 1000.0, n) for n, t0, t1 in tracer.spans)

    def by_time(ms: float) -> str | None:
        for t0, t1, n in windows:
            if t0 <= ms <= t1:
                return n
        return None

    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    join_rows_acc: dict[int, bool] = {}  # accumulator id -> is join rows
    tasks: dict[str, list[float]] = defaultdict(list)
    shuffle: dict[str, float] = defaultdict(float)
    spill: dict[str, float] = defaultdict(float)
    join_rows: dict[str, float] = defaultdict(float)

    for ev in read_events(event_dir):
        kind = ev.get("Event")
        if kind in (_SQL_START, _SQL_AQE):
            for node in _plan_nodes(ev["sparkPlanInfo"]):
                is_join = any(j in node.get("nodeName", "") for j in _JOIN_NODES)
                for m in node.get("metrics", ()):
                    if m.get("name") == "number of output rows":
                        join_rows_acc[m["accumulatorId"]] = is_join
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            layer = group if group in names else by_time(ev["Submission Time"])
            if layer is None:
                continue
            jobs[layer] += 1
            for sid in ev["Stage IDs"]:
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev["Stage ID"])
            if layer is None:
                continue
            info = ev["Task Info"]
            tasks[layer].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            tm = ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            shuffle[layer] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            spill[layer] += tm.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", ()):
                if join_rows_acc.get(acc.get("ID")):
                    join_rows[layer] += _acc_update(acc.get("Update"))

    out: dict[str, float] = {}
    for layer in LAYERS:
        busy = tracer.busy_s(layer)
        ts = tasks.get(layer, [])
        vals = {
            "busy_s": busy,
            "tasks": len(ts),
            "task_max_s": max(ts, default=0.0),
            "util": sum(ts) / (busy * cores) if busy > 0 else 0.0,
            "shuffle_bytes": shuffle.get(layer, 0.0),
            "spill_bytes": spill.get(layer, 0.0),
            "jobs": jobs.get(layer, 0),
            "rows_out": tracer.rows_out.get(layer, 0),
        }
        for m, v in vals.items():
            out[f"{layer}.{m}"] = v
    pairs = tracer.rows_out.get("operators.dedup", 0)
    out["operators.dedup.candidates_per_pair"] = (
        join_rows.get("operators.dedup", 0.0) / pairs if pairs else 0.0
    )
    for name in EXTRA:
        out.setdefault(name, tracer.extra.get(name, 0.0))
    return out


def read_events(event_dir: str):
    """Events of the one application logged under ``event_dir``: a
    plain file, or a rolling ``eventlog_v2_*`` directory of parts."""
    (entry,) = os.listdir(event_dir)
    path = os.path.join(event_dir, entry)
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f)
                 for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            for line in f:
                yield json.loads(line)

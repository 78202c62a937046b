"""Call-boundary tracing for the traced run (`--trace 1`).

Spans are recorded from the benchmark's side only: each traced public
function is replaced, at every name a caller resolves it by, with a wrapper
that gives the call its own Spark job group and times it. `collect_counts()`
reads each call's job / task counts from `SparkContext.statusTracker()`
once the listener bus has drained, before the session stops. Executor time
and shuffle bytes come from Spark's event log, which `event_log_conf()`
turns on through the environment for the traced run only, and which
`parse_event_logs()` reads after the session stops. Spans stay in memory
until the run ends.

A span's jobs are its self jobs: a traced call made inside another gets its
own group, so the outer span does not count them.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span name -> the (module, attribute) bindings callers resolve it by
SPANS: dict[str, tuple[tuple[str, str], ...]] = {
    "session.get_spark": (),  # timed by run.py around its own call
    "sources.read_xport": (("scripts_toolkit_spark.io.sources", "read_xport"),),
    "reshape.extract_quarter": (
        ("scripts_toolkit_spark.operators.reshape", "extract_quarter"),
        ("scripts_toolkit_spark.plans.xport", "extract_quarter"),
    ),
    "profile.profile_types": (
        ("scripts_toolkit_spark.operators.profile", "profile_types"),
        ("scripts_toolkit_spark.plans.xport", "profile_types"),
    ),
    "reshape.write_eav": (("scripts_toolkit_spark.operators.reshape", "write_eav"),),
    "mdrm.read_mdrm_csv": (("scripts_toolkit_spark.plans.mdrm", "read_mdrm_csv"),),
    "sinks.write_json_records": (("scripts_toolkit_spark.io.sinks", "write_json_records"),),
    "sources.linkbase_edges": (("scripts_toolkit_spark.io.sources", "linkbase_edges"),),
    "graph.expand_paths": (("scripts_toolkit_spark.operators.graph", "expand_paths"),),
    "sinks.export_taxonomy_json": (("scripts_toolkit_spark.io.sinks", "export_taxonomy_json"),),
    "ann_index.build_ann_index": (("scripts_toolkit_spark.ext.ann_index", "build_ann_index"),),
    "ann_index.search_index": (("scripts_toolkit_spark.ext.ann_index", "search_index"),),
    "ann_index.search_exec": (("workloads", "search_exec"),),
    "ann_index.append_to_index": (("scripts_toolkit_spark.ext.ann_index", "append_to_index"),),
    "ann_index.index_health": (("scripts_toolkit_spark.ext.ann_index", "index_health"),),
    "ann_index.compact_index": (("scripts_toolkit_spark.ext.ann_index", "compact_index"),),
}
QUANTITIES = ("wall_s", "jobs", "tasks", "tasks_failed", "executor_s", "shuffle_bytes")
_GROUP_PREFIX = "perfbench:"


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn the event log on (traced run only)."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


@dataclass
class Call:
    span: str
    group: str
    wall_s: float
    jobs: int | None = None
    tasks: int = 0
    tasks_failed: int = 0


@dataclass
class Tracer:
    calls: list[Call] = field(default_factory=list)
    _n: int = 0

    def install(self) -> None:
        # import every module before wrapping any, so that no module binds
        # another's wrapper by `from ... import` and nests two spans
        mods = {m: importlib.import_module(m) for b in SPANS.values() for m, _a in b}
        for span, bindings in SPANS.items():
            for mod_name, attr in bindings:
                mod = mods[mod_name]
                setattr(mod, attr, self._wrap(span, getattr(mod, attr)))

    def _wrap(self, span: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        """Time the body as one call of span `name`, under its own job group."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        self._n += 1
        group = f"{_GROUP_PREFIX}{name}#{self._n}"
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.calls.append(Call(name, group, time.perf_counter() - t0))
            if sc and prev:
                sc.setJobGroup(prev, prev)
            elif sc:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect_counts(self, sc) -> None:
        """Fill in job / task counts for every call not counted yet. Call
        before the session stops: its status store goes with it."""
        # the status store is fed by the listener bus; let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        for call in self.calls:
            if call.jobs is not None:
                continue
            stage_ids: set[int] = set()
            job_ids = tracker.getJobIdsForGroup(call.group)
            for job_id in job_ids:
                job = tracker.getJobInfo(job_id)
                stage_ids.update(job.stageIds if job else ())
            call.jobs = len(job_ids)
            for stage_id in stage_ids:  # a stage reused by a later job counts once
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    call.tasks += stage.numCompletedTasks
                    call.tasks_failed += stage.numFailedTasks

    def table(self, event_stats: dict[str, tuple[float, int]]) -> dict[str, float]:
        """Per span: the median per call of each quantity; spans the
        workload never called read 0."""
        out: dict[str, float] = {}
        for span in SPANS:
            calls = [c for c in self.calls if c.span == span]
            per_call = {
                "wall_s": [c.wall_s for c in calls],
                "jobs": [c.jobs for c in calls],
                "tasks": [c.tasks for c in calls],
                "tasks_failed": [c.tasks_failed for c in calls],
                "executor_s": [event_stats.get(c.group, (0.0, 0))[0] for c in calls],
                "shuffle_bytes": [event_stats.get(c.group, (0.0, 0))[1] for c in calls],
            }
            for q in QUANTITIES:
                out[f"{span}.{q}"] = float(statistics.median(per_call[q])) if calls else 0.0
        return out


def parse_event_logs(log_dir: str) -> dict[str, tuple[float, int]]:
    """job group -> (executor run seconds, shuffle bytes written), summed
    over the tasks of every stage the group's jobs ran. A stage shared by
    several jobs counts for the first job that lists it."""
    out: dict[str, list[float]] = {}
    # Spark 4 rolls each application's log into eventlog_v2_<app>/events_*
    for path in glob.glob(f"{log_dir}/**/events_*", recursive=True):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group and group.startswith(_GROUP_PREFIX):
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    acc = out.setdefault(group, [0.0, 0])
                    acc[0] += metrics.get("Executor Run Time", 0) / 1000.0
                    acc[1] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {g: (v[0], int(v[1])) for g, v in out.items()}

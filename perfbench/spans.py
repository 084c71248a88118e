"""Per-layer attribution for the traced run.

The benchmark wraps each call it makes into a layer of the engine in a
span named ``<module>.<function>``. While a span is open the Spark job
group is set to the span's own id, so every job, stage and task the
call causes carries that id in the Spark event log. After the session
stops, :func:`span_metrics` reads the (uncompressed, local) event log
and charges each job, stage and task to the span whose group it ran
under. Spans stay in memory until then.
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: The spans the benchmark opens, in layer order (see README.md).
SPANS = (
    "session.get_spark",
    "sources.read",
    "pipelines.seed",
    "pipelines.upsert_sync",
    "pipelines.table_read",
    "dedup.minhash_lsh_candidates",
    "cluster.canonicalize_corpus",
    "ivf_store.build_ivf_store",
    "ivf_store.append_to_ivf_store",
    "ivf_store.ivf_store_topk",
)

#: Quantities reported per span, each the median over traced ops.
QUANTITIES = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "driver_s": ("s", "lower"),
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "input_records": ("rows", "lower"),
    "output_bytes": ("B", "lower"),
}

#: Event-log property that carries the job group.
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: int | None  # None: set-up, else the index of the timed op
    group: str
    start: float
    end: float


@dataclass
class Tracer:
    """Records spans while ``active``; otherwise ``span`` is a no-op."""

    active: bool
    sc: object = None  # SparkContext, set once the session exists
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None):
        if not self.active:
            yield
            return
        group = f"perfbench-{len(self.spans)}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP, None)
            self.spans.append(Span(name, op, group, start, end))


def spark_submit_args(eventlog_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on a local, uncompressed event log."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + eventlog_dir,
        "spark.eventLog.compress": "false",
    }
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())


def _events(eventlog_dir: str):
    """Every event of every log file under ``eventlog_dir``. Spark 4 rolls
    the log into ``eventlog_v2_*/events_<n>_*`` files; older layouts
    write one file per application."""
    files = []
    for dirpath, _dirs, names in os.walk(eventlog_dir):
        for name in names:
            if name.startswith("appstatus_") or name.startswith("."):
                continue
            if name.startswith("events_"):
                key = (dirpath, int(name.split("_")[1]))
            else:
                key = (dirpath, 0)
            files.append((key, os.path.join(dirpath, name)))
    for _key, path in sorted(files):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _per_group(eventlog_dir: str) -> dict[str, dict]:
    """Counts, task metrics and job intervals per job group."""
    groups: dict[str, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    job_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {q: 0 for q in QUANTITIES if q not in ("wall_s", "driver_s")}
            | {"intervals": {}},
        )

    for ev in _events(eventlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP)
            if group:
                job_group[ev["Job ID"]] = group
                g(group)["jobs"] += 1
                g(group)["intervals"][ev["Job ID"]] = [ev["Submission Time"], None]
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"])
            if group:
                g(group)["intervals"][ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(_GROUP)
            info = ev["Stage Info"]
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            if group:
                g(group)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            tm = ev.get("Task Metrics")
            if not group:
                continue
            acc = g(group)
            acc["tasks"] += 1
            if tm:
                acc["exec_run_s"] += tm["Executor Run Time"] / 1e3
                acc["exec_cpu_s"] += tm["Executor CPU Time"] / 1e9
                acc["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["input_records"] += tm["Input Metrics"]["Records Read"]
                acc["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
    return groups


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(spans: list[Span], eventlog_dir: str) -> dict[str, dict[str, float]]:
    """``{span name: {quantity: median per op}}`` for every name in SPANS.

    A span's per-op value sums its calls within that op. The median runs
    over the timed ops that made the call; a span called only during
    set-up reports its set-up value; a span the workload never calls
    reports 0 for every quantity.
    """
    groups = _per_group(eventlog_dir)
    per_op: dict[str, dict[int | None, dict[str, float]]] = {}
    for s in spans:
        acc = groups.get(s.group)
        jobs = [
            (a / 1e3, (b if b is not None else a) / 1e3)
            for a, b in (acc["intervals"].values() if acc else ())
        ]
        wall = s.end - s.start
        row = {
            "wall_s": wall,
            "driver_s": wall - _covered(jobs, s.start, s.end),
        }
        for q in QUANTITIES:
            if q not in row:
                row[q] = acc[q] if acc else 0
        slot = per_op.setdefault(s.name, {}).setdefault(s.op, dict.fromkeys(QUANTITIES, 0))
        for q, v in row.items():
            slot[q] += v
    out = {}
    for name in SPANS:
        ops = per_op.get(name, {})
        timed = [v for op, v in ops.items() if op is not None] or list(ops.values())
        out[name] = {
            q: (statistics.median(v[q] for v in timed) if timed else 0) for q in QUANTITIES
        }
    return out

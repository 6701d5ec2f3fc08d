"""Operation timing, spans and per-job-group counters.

Every operation (one registry asset, one headline query) is timed from
outside the program. In a traced run each operation also gets its own
Spark job group; after the pass, the group's jobs, stages, tasks and
SQL metrics are summed from the two status stores
(``SparkContext.statusStore`` and ``SharedState.statusStore``), which
keep their data with the UI disabled. Counters are never computed by
diffing application-wide totals: a global diff undercounts as soon as
the store evicts a stage and goes negative when it does.

The stores are read once, after the pass, so the only tracing work
inside the timed region is one ``setJobGroup`` call per operation.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

#: SQL metric name -> counter it is summed into (the Python/Arrow boundary)
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "scan_tasks", "executor_run_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_records",
)
COUNTERS = STAGE_COUNTERS + tuple(PYTHON_METRICS.values())

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one aggregated SQL metric string, in bytes or seconds.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single-task ones are just ``<value> <unit>``."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    trace_id: str
    start: float
    end: float | None = None
    group: str | None = None
    counters: dict = field(default_factory=dict)


class Recorder:
    """Spans of one run, kept in memory until the run ends.

    ``op`` opens an operation span and closes the previous open one, so
    a caller that only sees where each operation starts (the registry's
    builders) still gets contiguous, non-overlapping spans."""

    def __init__(self, sc, traced: bool, trace_id: str) -> None:
        self.sc = sc
        self.traced = traced
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open_op: Span | None = None
        self.overhead_s = 0.0

    def _new(self, name: str, layer: str, parent: Span | None) -> Span:
        span = Span(len(self.spans), name, layer, parent.span_id if parent else None,
                    self.trace_id, time.perf_counter())
        self.spans.append(span)
        return span

    def group(self, label: str) -> None:
        """Tag the jobs that follow (set-up, checks) so that every job of
        the application belongs to some group."""
        if self.traced:
            self.sc.setJobGroup(f"pb:{label}", label)

    def begin(self, name: str, layer: str, parent: Span | None = None) -> Span:
        return self._new(name, layer, parent)

    def end(self, span: Span) -> None:
        if span is self._open_op or (self._open_op and self._open_op.parent == span.span_id):
            self.close_op()
        span.end = time.perf_counter()

    def op(self, name: str, layer: str, parent: Span) -> Span:
        t0 = time.perf_counter()
        self.close_op()
        span = self._new(name, layer, parent)
        if self.traced:
            span.group = f"pb{span.span_id}:{name}"
            self.sc.setJobGroup(span.group, name)
        self._open_op = span
        self.overhead_s += time.perf_counter() - t0
        span.start = time.perf_counter()
        return span

    def close_op(self) -> None:
        if self._open_op is not None:
            self._open_op.end = time.perf_counter()
            self._open_op = None
            if self.traced:
                self.sc.setJobGroup("pb:between", "between operations")

    def ops(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.span_id]

    def to_json(self) -> list[dict]:
        return [
            {
                "trace_id": s.trace_id, "span_id": s.span_id, "parent": s.parent,
                "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                "self_s": (s.end - s.start) - sum(
                    c.end - c.start for c in self.spans if c.parent == s.span_id
                ),
                "group": s.group, "counters": s.counters,
            }
            for s in self.spans
        ]


def _items(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def read_groups(spark) -> tuple[dict[str, dict], dict, list[str]]:
    """Counters of every job group from the status stores.

    Returns ``(per_group, app_totals, problems)``. ``problems`` lists
    every reason the numbers cannot be trusted: a job or stage evicted
    from the store, a job outside any group, a negative value, or group
    sums that differ from the application totals."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    problems: list[str] = []

    group_of_job: dict[int, str] = {}
    owner: dict[int, int] = {}  # stage -> first job listing it (the one that ran it)
    for j in _items(store.jobsList(None)):
        jid = j.jobId()
        g = j.jobGroup()
        group_of_job[jid] = g.get() if g.isDefined() else None
        for sid in _items(j.stageIds()):
            owner[sid] = min(owner.get(sid, jid), jid)
    if group_of_job and len(group_of_job) != max(group_of_job) + 1:
        problems.append(f"jobs evicted: {len(group_of_job)} retained of {max(group_of_job) + 1}")
    ungrouped = sorted(j for j, g in group_of_job.items() if g is None)
    if ungrouped:
        problems.append(f"{len(ungrouped)} jobs outside any group")

    zero = dict.fromkeys(COUNTERS, 0.0)
    groups: dict[str, dict] = {}
    for jid, g in group_of_job.items():
        groups.setdefault(g, dict(zero))["jobs"] += 1
    app = dict(zero, jobs=float(len(group_of_job)))
    arr = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    seen_stages = set()
    for s in _items(store.stageList(None, False, False, arr, None)):
        sid = s.stageId()
        ran = s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
        vals = {
            "stages": 0.0 if sid in seen_stages else 1.0,
            "tasks": float(ran),
            "scan_tasks": float(ran) if s.inputRecords() > 0 else 0.0,
            "executor_run_s": s.executorRunTime() / 1000.0,
            "input_bytes": float(s.inputBytes()),
            "shuffle_write_bytes": float(s.shuffleWriteBytes()),
            "spill_bytes": float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            "output_records": float(s.outputRecords()),
        }
        seen_stages.add(sid)
        for k, v in vals.items():
            app[k] += v
        if sid not in owner:
            problems.append(f"stage {sid} belongs to no retained job")
            continue
        g = groups.setdefault(group_of_job[owner[sid]], dict(zero))
        for k, v in vals.items():
            g[k] += v
    if owner and len(seen_stages) != max(owner) + 1:
        problems.append(f"stages evicted: {len(seen_stages)} retained of {max(owner) + 1}")

    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _items(sql.executionsList()):
        jobs = [int(k) for k in _items(e.jobs().keys())]
        if not jobs:
            continue
        ids = {
            int(m.group(2)): m.group(1)
            for m in re.finditer(r"SQLPlanMetric\(([^,()]+),(\d+),", e.metrics().toString())
            if m.group(1) in PYTHON_METRICS
        }
        if not ids:
            continue
        values = sql.executionMetrics(e.executionId())
        g = groups.setdefault(group_of_job.get(min(jobs)), dict(zero))
        for acc, name in ids.items():
            v = values.get(acc)
            if v.isDefined():
                x = parse_metric(v.get())
                g[PYTHON_METRICS[name]] += x
                app[PYTHON_METRICS[name]] += x

    for gname, c in groups.items():
        bad = [k for k, v in c.items() if v < 0]
        if bad:
            problems.append(f"negative {bad} in group {gname}")
    for k in COUNTERS:
        total = sum(c[k] for c in groups.values())
        if abs(total - app[k]) > 1e-6 * max(1.0, abs(app[k])):
            problems.append(f"group sum of {k} {total} != application total {app[k]}")
    return groups, app, problems

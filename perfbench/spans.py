"""Tracing for the benchmark's traced run.

Spans are recorded only in the benchmark's own files, around calls
into the package's modules. Each span tags its Spark jobs with
``setJobGroup`` and, when it ends, counts them and their tasks with
``statusTracker()``. Spans stay in memory and are written out at the
end of the run. Spark's event log (enabled by the traced run in its
work directory) supplies per-job timing and task metrics and the SQL
metrics of every plan node; a streaming listener supplies micro-batch
progress.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "sources", "functions", "operators", "raster", "ml", "plans", "streaming")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    kind: str  # read | build | fit | action
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    pass_idx: int = -1
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False
    pass_idx = -1

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        yield


class Tracer(NullTracer):
    """Tracing on for the passes where ``enabled`` is set."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        if not self.enabled:
            yield
            return
        sp = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            kind=kind,
            start=time.time(),
            parent=self._stack[-1].sid if self._stack else None,
            group=f"perfbench-{len(self.spans)}",
            pass_idx=self.pass_idx,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.jobs = sorted(self.tracker.getJobIdsForGroup(sp.group))
            for j in sp.jobs:
                info = self.tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(s)
                    sp.tasks += st.numTasks if st else 0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def make_progress_listener(records: list):
    """A StreamingQueryListener that appends (time, run id, batch
    duration ms, input rows, state rows) per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append(
                (
                    time.time(),
                    str(p.runId),
                    p.batchDuration,
                    p.numInputRows,
                    sum(s.numRowsTotal for s in p.stateOperators),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


# --- event log ---------------------------------------------------------------


@dataclass
class EventLog:
    jobs: dict  # job id -> {group, exec, submit, end}
    task_sums: dict  # job id -> {metric: value}
    sql_by_exec: dict  # execution id -> {(node, metric): value}


_PY_TIME = "time to run Python workers"
_SCAN_NODES = ("Scan", "LocalTableScan")


def parse_event_log(path: str) -> EventLog:
    jobs, stage_job, task_sums = {}, {}, {}
    accum_meta: dict[int, tuple[int, str, str]] = {}  # accum -> (exec, node, metric)
    accum_val: dict[int, float] = {}

    def walk(node: dict, exec_id: int) -> None:
        for m in node.get("metrics", ()):
            accum_meta[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])
        for c in node.get("children", ()):
            walk(c, exec_id)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "exec": int(ex) if ex is not None else None,
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                }
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                job = stage_job.get(e["Stage ID"])
                sums = task_sums.setdefault(job, {})
                sw = tm.get("Shuffle Write Metrics") or {}
                out = tm.get("Output Metrics") or {}
                for k, v in (
                    ("executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                    ("shuffle_bytes", sw.get("Shuffle Bytes Written", 0)),
                    ("write_bytes", out.get("Bytes Written", 0)),
                ):
                    sums[k] = sums.get(k, 0) + v
                for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("ID") in accum_meta:  # SQL metric updates are strings
                        accum_val[acc["ID"]] = accum_val.get(acc["ID"], 0) + float(acc["Update"])
            elif "sparkPlanInfo" in e:  # SQL execution start / adaptive update
                walk(e["sparkPlanInfo"], e["executionId"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    accum_val[acc_id] = accum_val.get(acc_id, 0) + v

    sql_by_exec: dict = {}
    for acc_id, v in accum_val.items():
        ex, node, metric = accum_meta[acc_id]
        d = sql_by_exec.setdefault(ex, {})
        d[(node, metric)] = d.get((node, metric), 0) + v
    return EventLog(jobs, task_sums, sql_by_exec)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.sid: (sp.end - sp.start) - _union_len(kids.get(sp.sid, [])) for sp in spans}


def pass_layer_metrics(spans: list[Span], log: EventLog, progress: list) -> dict[str, float]:
    """Per-layer metrics of one traced pass (spans of that pass only)."""
    selft = self_times(spans)
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0) + v

    group_span = {sp.group: sp for sp in spans}
    by_start = sorted(spans, key=lambda sp: sp.start)

    def owner(job: dict) -> Span | None:
        """The span whose job group the job carries or, for jobs started
        on Spark's own threads (streaming micro-batches), the innermost
        span open when the job was submitted."""
        sp = group_span.get(job["group"])
        if sp is not None:
            return sp
        open_ = [s for s in by_start if s.start <= job["submit"] <= s.end]
        return open_[-1] if open_ else None

    for sp in spans:
        if sp.layer not in LAYERS:
            continue
        add(f"{sp.layer}.{sp.kind}_s", selft[sp.sid])
        add(f"{sp.layer}.{sp.kind}_jobs", len(sp.jobs))
        add(f"{sp.layer}.jobs", len(sp.jobs))
        add(f"{sp.layer}.tasks", sp.tasks)
    exec_layer: dict[int, str] = {}
    for jid, j in log.jobs.items():
        sp = owner(j)
        if sp is None or sp.layer not in LAYERS:
            continue
        if j["exec"] is not None:
            exec_layer.setdefault(j["exec"], sp.layer)
        for k, v in log.task_sums.get(jid, {}).items():
            add("sources.write_bytes" if k == "write_bytes" else f"{sp.layer}.{k}", v)
    for ex, layer in exec_layer.items():
        for (node, metric), v in log.sql_by_exec.get(ex, {}).items():
            if metric == _PY_TIME:
                add(f"{layer}.python_worker_s", v / 1000.0)
            elif node.startswith("BroadcastExchange") and metric == "number of output rows":
                add(f"{layer}.broadcast_rows", v)
            elif node.startswith(_SCAN_NODES) and metric == "number of output rows":
                add("sources.read_rows", v)
    # call wall not covered by any job (plans layer: build + action)
    job_iv = [(j["submit"], j["end"]) for j in log.jobs.values() if j["end"] is not None]
    for sp in spans:
        if sp.layer == "plans":
            covered = _union_len(
                [(max(s, sp.start), min(e, sp.end)) for s, e in job_iv if e > sp.start and s < sp.end]
            )
            add("plans.outside_job_s", (sp.end - sp.start) - covered)
    if spans:
        lo, hi = min(sp.start for sp in spans), max(sp.end for sp in spans)
        mine = [p for p in progress if lo <= p[0] <= hi + 1.0]
        add("streaming.batches", len(mine))
        add("streaming.batch_s", sum(p[2] for p in mine) / 1000.0)
        last: dict[str, int] = {}
        for p in mine:
            last[p[1]] = max(last.get(p[1], 0), p[4])
        add("streaming.state_rows", sum(last.values()))
    return m


def median_metrics(per_pass: list[dict[str, float]], names: list[str]) -> dict[str, float]:
    return {n: statistics.median(d.get(n, 0) for d in per_pass) for n in names}

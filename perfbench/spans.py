"""Span tracer for the benchmark's traced run.

Spans are recorded from outside the package: the tracer rebinds the
public functions of each layer, in the defining module and in every
package module that imported them by name, to a wrapper that opens a
span. Each span carries a Spark job group, so the jobs an action starts
are attributed to the innermost open span; the enclosing group is
restored when the span closes. Spans stay in memory and the tracer
reduces them to per-layer numbers at the end.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "udacity_capstone_data_engineering_spark"

# operators.<m> modules whose public functions get a span each.
OPERATOR_MODULES = (
    "similarity", "ivf", "kmeans", "semdedup", "dedup", "repetition", "joins",
    "aggregates", "windows",
)
QC_FUNCTIONS = ("assert_nonempty", "fk_check", "duplicate_rows", "check_expectations",
                "profile_nulls")


@dataclass
class Span:
    id: int
    name: str  # layer key, e.g. "operators.ivf" or "catalog.build"
    func: str
    start: float
    parent: int | None
    pass_id: int
    row: str
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    result: object = None


@dataclass
class Job:
    span: int | None
    start: float
    end: float
    tasks: int
    failed_tasks: int
    stages: list[dict]


class Tracer:
    """Records spans and the Spark jobs each span started."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._pass, self._row = -1, ""
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
                        "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        # jobs that ran before this tracer existed belong to no span of it
        self._seen_jobs = max((j["jobId"] for j in self._job_list()), default=-1)

    # -- spans -------------------------------------------------------------
    def begin_row(self, pass_id: int, row: str) -> None:
        self._pass, self._row = pass_id, row

    @contextmanager
    def span(self, name: str, func: str):
        """A span under the innermost open one, with its own job group;
        the enclosing group is restored on exit."""
        sp = Span(len(self.spans), name, func, time.perf_counter(),
                  self._stack[-1] if self._stack else None, self._pass, self._row)
        self.spans.append(sp)
        self._stack.append(sp.id)
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"perfbench-{sp.id}", f"{name}:{func}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(group, desc)

    # -- rebinding ---------------------------------------------------------
    def install(self) -> None:
        """Wrap every traced public function, wherever it is bound."""
        targets: list[tuple[str, object, object]] = []
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{m}")
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == mod.__name__):
                    targets.append((f"operators.{m}", fn, None))
        qc = importlib.import_module(f"{PKG}.qc")
        targets += [("qc", getattr(qc, f), _qc_failed) for f in QC_FUNCTIONS]
        cat = importlib.import_module(f"{PKG}.sources.catalog")
        targets.append(("sources.load_table", cat.load_table, None))
        targets.append(("sources.fan_out", cat.fan_out_small_scan, _fan_out_applied))
        readers = importlib.import_module(f"{PKG}.sources.readers")
        targets += [("sources.read", fn, None) for attr, fn in vars(readers).items()
                    if inspect.isfunction(fn) and not attr.startswith("_")
                    and fn.__module__ == readers.__name__]
        sinks = importlib.import_module(f"{PKG}.sources.sinks")
        targets.append(("sources.sink", sinks.write_parquet, _sink_files))
        session = importlib.import_module(f"{PKG}.session")
        targets.append(("session.local_df", session.local_df, None))
        by_fn = {fn: self._wrap(name, fn, post) for name, fn, post in targets}
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]:
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in by_fn:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, by_fn[val])
        pipeline = importlib.import_module(f"{PKG}.plans.pipeline").Pipeline
        for attr, post in (("run", _pipeline_stages), ("_materialize", None)):
            fn = getattr(pipeline, attr)
            self._patched.append((pipeline, attr, fn))
            setattr(pipeline, attr, self._wrap(f"plans.pipeline.{attr}", fn, post))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, name: str, fn, post):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, fn.__name__) as sp:
                out = fn(*args, **kwargs)
                sp.result = post(args, kwargs, out) if post else None
                return out

        return traced

    # -- Spark jobs ----------------------------------------------------------
    def harvest(self) -> None:
        """Read the jobs finished since the last call and attribute them to
        spans by job group. Drains the listener bus first: the status store
        is fed asynchronously and reads straight after an action can see a
        stage with all-zero metrics."""
        self._bus.waitUntilEmpty()
        for jd in sorted(self._job_list(), key=lambda j: j["jobId"]):
            if jd["jobId"] <= self._seen_jobs or jd["status"] == "RUNNING":
                continue
            self._seen_jobs = jd["jobId"]
            group = jd.get("jobGroup") or ""
            span = int(group.rsplit("-", 1)[1]) if group.startswith("perfbench-") else None
            stages = []
            for sid in jd["stageIds"]:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                stages.append(json.loads(self._json.writeValueAsString(st)))
            self.jobs.append(Job(
                span, jd["submissionTime"] / 1e3, (jd.get("completionTime") or 0) / 1e3,
                jd["numCompletedTasks"] + jd["numFailedTasks"], jd["numFailedTasks"], stages))
            if span is not None:
                self.spans[span].jobs.append(len(self.jobs) - 1)

    def _job_list(self) -> list[dict]:
        return json.loads(self._json.writeValueAsString(self._store.jobsList(None)))


def _qc_failed(args, kwargs, out):
    return {"failed": int(getattr(out, "passed", True) is False)}


def _fan_out_applied(args, kwargs, out):
    return {"applied": int(out is not args[0])}


def _sink_files(args, kwargs, out):
    from workloads import output_files

    files, size = output_files(out)
    return {"files": files, "bytes": size}


def _pipeline_stages(args, kwargs, out):
    return {"stages": len(out)}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_metrics(tr: Tracer, passes: list[int],
                  row_walls: dict[tuple[int, str], tuple[float, float]], cores: int
                  ) -> dict[str, float]:
    """Per-layer numbers per traced pass (means over ``passes``).

    ``row_walls`` maps (pass, row) to the row's wall-clock (start, end) as
    ``time.time()`` values, used to find driver time with no job running."""
    n = max(1, len(passes))
    spans = [s for s in tr.spans if s.pass_id in passes]
    row_walls = {k: v for k, v in row_walls.items() if k[0] in passes}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def self_s(s: Span) -> float:
        return (s.end - s.start) - _union([(c.start, c.end) for c in children.get(s.id, [])])

    def jobs_of(s: Span, inclusive: bool) -> list[Job]:
        out = [tr.jobs[j] for j in s.jobs]
        if inclusive:
            for c in children.get(s.id, []):
                out += jobs_of(c, True)
        return out

    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for phase in ("build", "exec"):
        ps = [s for s in spans if s.name == f"catalog.{phase}"]
        js = [j for s in ps for j in jobs_of(s, True)]
        add(f"catalog.{phase}_s", sum(s.end - s.start for s in ps))
        add(f"catalog.{phase}_jobs", len(js))
        add(f"catalog.{phase}_tasks", sum(j.tasks for j in js))
    for mod in OPERATOR_MODULES:
        ps = [s for s in spans if s.name == f"operators.{mod}"]
        add(f"operators.{mod}.calls", len(ps))
        add(f"operators.{mod}.self_s", sum(self_s(s) for s in ps))
        add(f"operators.{mod}.jobs", sum(len(s.jobs) for s in ps))

    def by(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    lt = by("sources.load_table")
    add("sources.load_table.calls", len(lt))
    add("sources.load_table.s", sum(s.end - s.start for s in lt))
    add("sources.load_table.jobs", sum(len(jobs_of(s, True)) for s in lt))
    rd = by("sources.read")
    add("sources.read.calls", len(rd))
    add("sources.read.s", sum(s.end - s.start for s in rd))
    add("sources.read.jobs", sum(len(jobs_of(s, True)) for s in rd))
    fo = by("sources.fan_out")
    add("sources.fan_out.calls", len(fo))
    applied = sum(s.result["applied"] for s in fo)
    sk = by("sources.sink")
    add("sources.sink.s", sum(s.end - s.start for s in sk))
    add("sources.sink.files", sum(s.result["files"] for s in sk if s.result))
    add("sources.sink.bytes", sum(s.result["bytes"] for s in sk if s.result))
    pr = by("plans.pipeline.run")
    add("plans.pipeline.run_s", sum(s.end - s.start for s in pr))
    add("plans.pipeline.stages", sum(s.result["stages"] for s in pr if s.result))
    add("plans.pipeline.materialize_s",
        sum(s.end - s.start for s in by("plans.pipeline._materialize")))
    add("plans.pipeline.jobs", sum(len(jobs_of(s, True)) for s in pr))
    qc = [s for s in by("qc") if s.parent is None or tr.spans[s.parent].name != "qc"]
    add("qc.checks", len(qc))
    add("qc.s", sum(s.end - s.start for s in qc))
    add("qc.jobs", sum(len(jobs_of(s, True)) for s in qc))
    add("qc.failed", sum(s.result["failed"] for s in qc if s.result))
    ld = by("session.local_df")
    add("session.local_df.calls", len(ld))
    add("session.local_df.s", sum(s.end - s.start for s in ld))

    jobs = [j for s in spans if s.parent is None for j in jobs_of(s, True)]
    stages = [st for j in jobs for st in j.stages]
    add("spark.jobs", len(jobs))
    add("spark.tasks", sum(j.tasks for j in jobs))
    add("spark.failed_tasks", sum(j.failed_tasks for j in jobs))
    add("spark.executor_run_s", sum(st["executorRunTime"] for st in stages) / 1e3)
    add("spark.executor_cpu_s", sum(st["executorCpuTime"] for st in stages) / 1e9)
    add("spark.gc_s", sum(st["jvmGcTime"] for st in stages) / 1e3)
    add("spark.shuffle_read_bytes", sum(st["shuffleReadBytes"] for st in stages))
    add("spark.shuffle_write_bytes", sum(st["shuffleWriteBytes"] for st in stages))
    add("spark.spill_bytes", sum(st["diskBytesSpilled"] for st in stages))
    add("sources.scan.input_bytes", sum(st["inputBytes"] for st in stages))
    busy = sum(e - s for s, e in row_walls.values())
    driver_only = 0.0
    for (p, row), (s0, e0) in row_walls.items():
        iv = [(max(j.start, s0), min(j.end, e0)) for sp in spans
              if sp.pass_id == p and sp.row == row and sp.parent is None
              for j in jobs_of(sp, True) if j.end > j.start]
        driver_only += (e0 - s0) - _union([(a, b) for a, b in iv if b > a])
    add("spark.driver_only_s", driver_only)
    m = {k: v / n for k, v in m.items()}
    m["sources.fan_out.applied_share"] = applied / len(fo) if fo else 0.0
    m["spark.busy_share"] = m["spark.executor_run_s"] * n / (busy * cores) if busy else 0.0
    total = m["catalog.build_s"] + m["catalog.exec_s"]
    m["catalog.build_share"] = m["catalog.build_s"] / total if total else 0.0
    return m


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name == "stored_bytes_per_input_byte":
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", ".bytes")):
        return "bytes"
    return "count"


def with_units(metrics: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())}

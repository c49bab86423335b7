"""Spans around the benchmark's calls into each layer, plus the Spark
status-store reads that turn them into per-layer metrics.

With tracing off a span only times itself. With tracing on, spans are
kept in memory; after each operation the tracer waits until Spark's
listener bus has delivered every event to the status stores, then reads
the jobs, stages and SQL executions Spark ran since the previous read
and adds every job as a child span of the innermost span it was
submitted in. A StreamingQueryListener records the progress of every
streaming drain. Nothing is written until the run ends.
"""

from __future__ import annotations

import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import metricmath as mm

#: Span kinds whose layer name differs from the kind.
LAYER_OF_KIND = {"plan": "spark.plan", "exec": "spark.exec", "job": "spark.job"}

#: Spark SQL metric names of the Python-worker metrics
#: (pythonTotalTime, pythonBootTime, pythonDataSent, pythonDataReceived).
PY_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "recv_b",
}

_MB = 1024.0 * 1024.0
#: Longest wait for Spark's listener bus to deliver its queued events.
_DRAIN_TIMEOUT_MS = 30_000
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),")


@dataclass
class Span:
    id: int
    kind: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.bookkeeping_s = 0.0
        self.progress: list[dict] = []
        self.sql_py: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None

    @contextmanager
    def span(self, kind: str, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next_id, kind, name, parent, time.time())
        self._next_id += 1
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled and kind == "op":
                self._capture(s)

    # -- status-store reads (tracing on only) ---------------------------

    def attach(self, spark) -> None:
        """Start reading Spark's stores and wrap ``load_table``."""
        if not self.enabled:
            return
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self._bus = spark._jsc.sc().listenerBus()
        self._store = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._jlist = spark._jvm.java.util.ArrayList
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_job = self._max_job_id()
        self._sql_seen = self._sql.executionsCount()
        self._stages_seen: set[int] = set()
        self._wrap_load_table()
        self._add_listener(spark)

    def detach(self) -> None:
        for module, attr, orig in self._patched:
            setattr(module, attr, orig)
        self._patched = []
        if self._listener is not None:
            self._bus.waitUntilEmpty(_DRAIN_TIMEOUT_MS)  # the last progress events
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _wrap_load_table(self) -> None:
        from etl_npl_pipeline_spark.sources import tables

        orig = tables.load_table

        def load_table(spark, sf_dir, name):
            with self.span("sources", name):
                return orig(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("etl_npl_pipeline_spark") and (
                getattr(mod, "load_table", None) is orig
            ):
                self._patched.append((mod, "load_table", orig))
                setattr(mod, "load_table", load_table)

    def _add_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({
                    "ts": p.timestamp,
                    "rows": p.numInputRows,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                    "commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "late_rows": sum(o.numRowsDroppedByWatermark for o in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        spark.streams.addListener(self._listener)

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(self._jlist())
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _capture(self, op_span: Span) -> None:
        """Read the jobs and SQL executions the operation ran and hang
        each job under the innermost span it was submitted in. The
        stores are fed asynchronously from the listener bus, so first
        wait until it has delivered the operation's last events."""
        t0 = time.time()
        self._bus.waitUntilEmpty(_DRAIN_TIMEOUT_MS)
        jobs = self._store.jobsList(self._jlist())  # newest job first
        new = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            if jd.jobId() <= self._last_job:
                break
            new.append(jd)
        if new:
            self._last_job = max(jd.jobId() for jd in new)
        inner = [s for s in self.spans if s.id >= op_span.id and s.kind != "job"]
        for jd in sorted(new, key=lambda j: j.jobId()):
            self._add_job(jd, inner, op_span)
        self._capture_sql(op_span)
        self.bookkeeping_s += time.time() - t0

    def _add_job(self, jd, inner: list[Span], op_span: Span) -> None:
        sub = jd.submissionTime()
        comp = jd.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else op_span.start
        end = comp.get().getTime() / 1000.0 if comp.isDefined() else op_span.end
        home = op_span
        for s in inner:
            if s.start - 0.002 <= start <= s.end and s.start >= home.start:
                home = s
        attrs = {"tasks": 0, "failed_tasks": 0, "stages": 0, "task_s": 0.0,
                 "input_b": 0, "input_rows": 0, "shuffle_write_b": 0, "spill_b": 0}
        ids = jd.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in self._stages_seen:
                continue
            attempts = self._store.stageData(
                sid, False, self._jlist(), False, self._no_quantiles
            )
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._stages_seen.add(sid)
                attrs["stages"] += 1
                attrs["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                attrs["failed_tasks"] += sd.numFailedTasks()
                attrs["task_s"] += sd.executorRunTime() / 1000.0
                attrs["input_b"] += sd.inputBytes()
                attrs["input_rows"] += sd.inputRecords()
                attrs["shuffle_write_b"] += sd.shuffleWriteBytes()
                attrs["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        span = Span(self._next_id, "job", f"job{jd.jobId()}", home.id, start, end, attrs)
        self._next_id += 1
        self.spans.append(span)

    def _capture_sql(self, op_span: Span) -> None:
        n = self._sql.executionsCount()
        if n <= self._sql_seen:
            return
        execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        totals = dict.fromkeys(PY_METRICS.values(), 0.0)
        for i in range(execs.size()):
            ex = execs.apply(i)
            # one round trip for the whole metric list: its Scala
            # toString is "List(SQLPlanMetric(<name>,<accId>,<type>), ...)"
            wanted = {
                int(acc): PY_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in PY_METRICS
            }
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    totals[key] += mm.parse_sql_metric(v.get())
        totals["op_span"] = op_span.id
        self.sql_py.append(totals)

    # -- reduction to per-layer metrics ----------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def layer_table(self, passes: list[dict]) -> list[dict]:
        """Per layer: total and self seconds per pass, and call count,
        over the given passes' spans."""
        kids = self.children()
        by_id = {s.id: s for s in self.spans}
        pass_ids = [p["span"] for p in passes]
        rows: dict[str, dict] = {}
        for s in [by_id[i] for i in pass_ids] + _below(kids, pass_ids):
            layer = LAYER_OF_KIND.get(s.kind, s.kind)
            r = rows.setdefault(layer, {"layer": layer, "total_s": 0.0, "self_s": 0.0, "calls": 0})
            r["calls"] += 1
            r["total_s"] += s.duration
            r["self_s"] += mm.self_time(
                (s.start, s.end), [(c.start, c.end) for c in kids.get(s.id, [])]
            )
        n = max(1, len(passes))
        for r in rows.values():
            r["total_s"] /= n
            r["self_s"] /= n
            r["calls"] /= n
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def per_layer(self, runner, result: dict) -> dict:
        steady = [p for p in runner.passes if not p["cold"]]
        n = max(1, len(steady))
        kids = self.children()
        by_id = {s.id: s for s in self.spans}

        pass_ids = [p["span"] for p in steady]
        below = _below(kids, pass_ids)
        jobs = [s for s in below if s.kind == "job"]
        op_spans = [s for s in below if s.kind == "op"]
        layer_spans = [s for s in below if s.kind in ("plans", "sinks", "sources", "plan", "exec")]

        def total(kind, pred=lambda s: True):
            return sum(s.duration for s in layer_spans if s.kind == kind and pred(s)) / n

        def jobs_in(kind):
            return [j for j in jobs if by_id[j.parent].kind == kind]

        def jsum(key, js=jobs):
            return sum(j.attrs[key] for j in js)

        exec_gap = sum(
            mm.self_time((s.start, s.end), [(c.start, c.end) for c in kids.get(s.id, [])])
            for s in layer_spans if s.kind == "exec"
        )
        busy = 0.0
        for pid in pass_ids:
            pjobs = [s for s in _below(kids, [pid]) if s.kind == "job"]
            busy += mm.union_length([(j.start, j.end) for j in pjobs])
        task_s = jsum("task_s")

        coverage = []
        for o in op_spans:
            parts = sum(c.duration for c in kids.get(o.id, []) if c.kind != "job")
            if o.duration > 0:
                coverage.append(parts / o.duration)

        steady_span_ids = {o.id for o in op_spans}
        py = [r for r in self.sql_py if r["op_span"] in steady_span_ids]

        t_lo = min((by_id[i].start for i in pass_ids), default=0.0)
        t_hi = max((by_id[i].end for i in pass_ids), default=0.0)
        prog = [e for e in self.progress if t_lo <= _iso_epoch(e["ts"]) <= t_hi]
        drain_s = total("plans", lambda s: s.name.startswith("stream_")) * n
        stream_rows = sum(e["rows"] for e in prog)

        op_times: dict[str, list[float]] = {}
        for p in steady:
            for o in p["ops"]:
                if not o.get("failed"):
                    op_times.setdefault(o["name"], []).append(o["s"])
        reads = op_times.get("sinks_mor_read", [])
        reads_c = op_times.get("sinks_mor_read_compacted", [])
        cold_build = [
            s for s in self.spans
            if s.kind == "plans" and s.name == "ann_index_build"
            and s.parent is not None and by_id[s.parent].kind == "op"
        ]
        files, out_b = _written(steady)

        m = {
            "session.jvm_start_s": result["session"]["jvm_start_s"],
            "session.warm_s": result["session"]["warm_s"],
            "session.jvm_rss_peak_mb": result["session"]["jvm_rss_peak_mb"],
            "sources.load_s": total("sources"),
            "sources.read_jobs": len(jobs_in("sources")) / n,
            "sources.input_mb": jsum("input_b") / _MB / n,
            "sources.input_rows": jsum("input_rows") / n,
            "plans.build_s": total("plans"),
            "plans.build_jobs": len(jobs_in("plans")) / n,
            "spark.plan_s": total("plan"),
            "spark.exec_s": total("exec"),
            "spark.jobs": len(jobs) / n,
            "spark.stages": jsum("stages") / n,
            "spark.tasks": jsum("tasks") / n,
            "spark.task_s": task_s / n,
            "spark.driver_gap_s": exec_gap / n,
            "spark.core_util": task_s / (busy * self.cores) if busy else 0.0,
            "spark.shuffle_write_mb": jsum("shuffle_write_b") / _MB / n,
            "spark.spill_mb": jsum("spill_b") / _MB / n,
            "spark.failed_tasks": jsum("failed_tasks") / n,
            "pyworker.total_s": sum(r["total_s"] for r in py) / n,
            "pyworker.boot_s": sum(r["boot_s"] for r in py) / n,
            "pyworker.sent_mb": sum(r["sent_b"] for r in py) / _MB / n,
            "pyworker.recv_mb": sum(r["recv_b"] for r in py) / _MB / n,
            "streaming.batches": len(prog) / n,
            "streaming.input_rows": stream_rows / n,
            "streaming.trigger_s": sum(e["trigger_ms"] for e in prog) / 1000.0 / n,
            "streaming.state_commit_s": sum(e["commit_ms"] for e in prog) / 1000.0 / n,
            "streaming.state_rows_max": max((e["state_rows"] for e in prog), default=0),
            "streaming.late_rows_dropped": sum(e["late_rows"] for e in prog) / n,
            "streaming.drain_rows_per_s": stream_rows / drain_s if drain_s else 0.0,
            "sinks.write_s": total("sinks", lambda s: "read" not in s.name),
            "sinks.output_mb": out_b / _MB / n,
            "sinks.files_written": files / n,
            "sinks.mor_read_amp": (
                mm.median(reads) / mm.median(reads_c) if reads and reads_c else 0.0
            ),
            "ann_index.build_s": cold_build[0].duration if cold_build else 0.0,
            "ann_index.recall_at_5": _recall(result),
            "trace.wall_s": mm.median(p["s"] for p in steady),
            "trace.bookkeeping_s": self.bookkeeping_s / len(runner.passes),
            "trace.coverage_min": min(coverage, default=0.0),
        }
        for name, values in op_times.items():
            m[f"op.{name}.s"] = mm.median(values)
        return m

    def spans_json(self) -> list[dict]:
        return [
            {"id": s.id, "kind": s.kind, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _below(kids: dict[int, list[Span]], roots: list[int]) -> list[Span]:
    """Every span under the spans with ids ``roots``, roots excluded."""
    out, frontier = [], list(roots)
    while frontier:
        for c in kids.get(frontier.pop(), []):
            out.append(c)
            frontier.append(c.id)
    return out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _written(passes: list[dict]) -> tuple[int, int]:
    """Data files and bytes under each pass's sink output directories."""
    files = size = 0
    for p in passes:
        for root in set(p["written"]):
            for dirpath, _, names in os.walk(root):
                for f in names:
                    if f.startswith((".", "_")):
                        continue
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _recall(result: dict) -> float:
    vals = [c["recall"] for c in result["checks"] if "recall" in c]
    return sum(vals) / len(vals) if vals else 0.0

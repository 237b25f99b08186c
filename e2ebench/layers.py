"""Per-layer measurement: spans, Spark's status store, the single-core
kernel replay and the process-tree memory sampler.

Nothing here reaches inside ``pdfspark/``. Spans wrap the benchmark's own
calls into the engine; the Spark executions, jobs and stages under each
call are read back from the status store after the call returns (the UI
is disabled, the store is not) and nested beneath it with Spark's own
timestamps.

Two Spark metrics are deliberately not reported as layer times:

- "time to initialize Python workers": ``pyspark/worker.py`` stamps its
  boot time when ``main()`` starts, and a reused worker re-enters
  ``main()`` as soon as its previous task ends, so the metric counts the
  worker's idle time between tasks, not initialisation.
- "time to run Python workers" is reported (``pipeline.py_run_s``) but is
  not kernel compute: it includes the worker blocking on its JVM input
  stream. Kernel compute therefore comes from the replay below.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from typing import Dict, List, Optional, Tuple


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans: name, layer, start, end and parent. Written out
    once, at the end of the run."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.own_s = 0.0          # time spent in the tracer itself

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Optional[int], **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "trace": self.trace_id,
                           "name": name, "layer": layer, "start": start,
                           "end": end, **attrs})
        return sid

    def span(self, name: str, layer: str, **attrs):
        return _Span(self, name, layer, attrs)

    def self_times(self) -> Dict[str, float]:
        """Per layer: span duration minus the part of it that child spans
        cover."""
        kids: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            covered = _union([(max(c["start"], s["start"]),
                               min(c["end"], s["end"]))
                              for c in kids.get(s["id"], [])])
            out[s["layer"]] = (out.get(s["layer"], 0.0)
                               + (s["end"] - s["start"]) - covered)
        return out

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self.t, self.name, self.layer, self.attrs = tracer, name, layer, attrs
        self.id: Optional[int] = None

    def __enter__(self):
        parent = self.t._stack[-1] if self.t._stack else None
        self.id = self.t.add(self.name, self.layer, time.time(), 0.0, parent,
                             **self.attrs)
        self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.t.spans[self.id]["end"] = time.time()
        self.t._stack.pop()


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------- Spark status store

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*(-?[0-9.]+)\s*([A-Za-z]*)")

# SQL metric name -> layer metric it adds into (seconds or bytes)
SQL_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
    "time to run Python workers": "py_run",
    "scan time": "scan",
    "shuffle bytes written": "shuffle",
    "fetch wait time": "fetch_wait",
    "time in aggregation build": "agg_build",
    "time to build": "broadcast_build",
    "time to broadcast": "broadcast_build",
    "time to collect": "broadcast_build",
    "job commit time": "commit",
    "task commit time": "commit",
    "number of written files": "files_written",
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: either a bare value ("12 ms",
    "24.0 KiB", "40") or "total (min, med, max ...)\\n<total> (...)"."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}   # else bytes or a count


def _opt_ms(opt) -> Optional[float]:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads one job group's Spark jobs, stages and SQL metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext
        self._seen = 0            # executions already attributed

    def _metric(self, m, values) -> float:
        """A SQL metric's total: the accumulator's raw value while it is
        still registered, else the store's formatted string (which keeps
        only two or three significant digits)."""
        acc = self._acc.get(m.accumulatorId())
        if acc.isDefined():
            return float(acc.get().value()) * _RAW_SCALE.get(m.metricType(), 1)
        v = values.get(m.accumulatorId())
        return _metric_total(v.get()) if v.isDefined() else 0.0

    def group(self, group_id: str, tracer: Tracer, parent: int) -> dict:
        """Spans for the group's executions, jobs and stages under the
        call span ``parent``; returns the call's Spark figures."""
        from py4j.protocol import Py4JJavaError

        jobs = {}   # job id -> [start, end, parent span, stage ids]
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group_id)):
            j = self.store.job(jid)
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None and end is not None:
                ids = j.stageIds()
                jobs[jid] = [start, end, parent,
                             [ids.apply(k) for k in range(ids.size())]]
        metrics: Dict[str, float] = {}
        n = self.sql.executionsCount()
        execs = self.sql.executionsList(self._seen, int(n - self._seen))
        self._seen = n
        for i in range(execs.size()):
            e = execs.apply(i)
            mine = [k for k in (int(x) for x in
                                str(e.jobs().keys().mkString(",")).split(",")
                                if x) if k in jobs]
            if not mine:
                continue
            end = _opt_ms(e.completionTime()) or max(jobs[k][1] for k in mine)
            span = tracer.add(f"execution {e.executionId()}", "spark.sql",
                              e.submissionTime() / 1000.0, end, parent)
            for k in mine:
                jobs[k][2] = span
            values = self.sql.executionMetrics(e.executionId())
            seen = set()
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = SQL_METRICS.get(m.name())
                if key is not None and m.accumulatorId() not in seen:
                    seen.add(m.accumulatorId())
                    metrics[key] = (metrics.get(key, 0.0)
                                    + self._metric(m, values))
        run_s, kernel = 0.0, None
        for jid, (start, end, jparent, stage_ids) in jobs.items():
            jspan = tracer.add(f"job {jid}", "spark.job", start, end, jparent)
            for sid in stage_ids:
                try:
                    s = self.store.lastStageAttempt(sid)
                except Py4JJavaError:   # a skipped stage has no attempt
                    continue
                s0, s1 = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
                if s0 is None or s1 is None:
                    continue
                tracer.add(f"stage {sid}", "spark.stage", s0, s1, jspan,
                           tasks=s.numTasks())
                run = s.executorRunTime() / 1000.0
                run_s += run
                if kernel is None or run > kernel[0]:
                    kernel = (run, sid, s.attemptId(), jid)
        out = {"jobs": len(jobs), "run_s": run_s, "sql": metrics,
               "job_walls": {jid: j[1] - j[0] for jid, j in jobs.items()}}
        if kernel is not None:
            # the kernel stage: the one with the most executor run time
            d = kernel_task_s(self.sc, group_id)
            if d:
                out["task_p50_s"] = statistics.median(d)
                out["task_max_s"] = max(d)
            out["kernel_job"] = kernel[3]
        return out


def kernel_task_s(sc, group_id: str) -> List[float]:
    """Task durations (s) of one job group's kernel stage, the stage with
    the most executor run time, read from the status store."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    kernel = None
    for jid in sc.statusTracker().getJobIdsForGroup(group_id):
        ids = store.job(jid).stageIds()
        for k in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:   # a skipped stage has no attempt
                continue
            if kernel is None or s.executorRunTime() > kernel.executorRunTime():
                kernel = s
    if kernel is None:
        return []
    tasks = store.taskList(kernel.stageId(), kernel.attemptId(),
                           kernel.numTasks())
    out = []
    for k in range(tasks.size()):
        d = tasks.apply(k).duration()
        if d.isDefined():
            out.append(d.get() / 1000.0)
    return out


def codegen_compiles(spark) -> int:
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cg.METRIC_COMPILATION_TIME().getCount())


# ------------------------------------------------ process-tree memory

def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 1e6
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Samples every ``interval`` seconds while running: the resident
    memory of the JVM and of its Python workers (its descendants), and the
    JVM's heap in use."""

    def __init__(self, jvm_pid: int, jvm, interval: float = 0.25) -> None:
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak_py = self.peak_jvm = 0.0
        self.peak_heap_used = 0.0
        self.pids: set = set()
        self._heap = jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = _children_map()
        todo, py = list(kids.get(self.jvm_pid, [])), 0.0
        while todo:
            p = todo.pop()
            self.pids.add(p)
            py += _rss_mb(p)
            todo.extend(kids.get(p, []))
        jvm = _rss_mb(self.jvm_pid)
        self.peak_py = max(self.peak_py, py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_heap_used = max(
            self.peak_heap_used,
            self._heap.getHeapMemoryUsage().getUsed() / 1e6)

    def retained_heap_mb(self) -> float:
        """Heap in use after a full collection: what the engine holds
        between calls."""
        self._heap.gc()
        return self._heap.getHeapMemoryUsage().getUsed() / 1e6

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ------------------------------------------------------- kernel replay

ERROR_CODES = ("not-pdf", "encrypted", "xref", "catalog", "pages", "filter",
               "lex", "too-large", "predefined-cmap", "recursion", "internal",
               "unknown-format")


def kernel_replay(docs: List[Tuple[str, bytes]],
                  tracer: Optional[Tracer]) -> Tuple[dict, Dict[str, float]]:
    """Single-core replay of documents through the kernel's public calls.

    Per PDF: ``PdfDocument`` (lexer, xref, trailer), ``pages()``,
    ``page_content`` (filters), ``tokenize_content``, then the whole
    ``extract_text``; interpretation (text state, fonts, layout) is the
    whole call minus the four phases before it. HTML goes through
    ``extract_html``; every document also through ``extract_document``
    for the error-code counts and the throughput figures. Returns the
    metrics and the ``extract_document`` seconds per document kind."""
    from pdfspark.kernel.content import tokenize_content
    from pdfspark.kernel.document import PdfDocument
    from pdfspark.kernel.extract import extract_document, extract_text
    from pdfspark.kernel.html_extract import extract_html, looks_like_html
    from pdfspark.kernel.objects import PdfError

    pc = time.perf_counter
    wall0 = time.time()
    phase = {k: 0.0 for k in ("open", "pages", "decode", "tokenize",
                              "interp", "html")}
    n_pdf = n_html = 0
    errors = {c: 0 for c in ERROR_CODES}
    errors["other"] = 0
    doc_s, n_bytes = 0.0, 0
    by_kind: Dict[str, float] = {}
    for kind, buf in docs:
        t0 = pc()
        r = extract_document(buf)
        dt = pc() - t0
        doc_s += dt
        by_kind[kind] = by_kind.get(kind, 0.0) + dt
        n_bytes += len(buf)
        if r.error:
            errors[r.error if r.error in errors else "other"] += 1
        head = buf[:1024]
        if b"%PDF-" in head:
            t0 = pc()
            try:
                doc = PdfDocument(buf)
                t1 = pc()
                pages = doc.pages()
                t2 = pc()
                contents = [doc.page_content(p) for p in pages]
                t3 = pc()
                for c in contents:
                    for _ in tokenize_content(c):
                        pass
                t4 = pc()
            except PdfError:
                continue          # an error row: no phase split to take
            extract_text(buf)
            t5 = pc()
            n_pdf += 1
            phase["open"] += t1 - t0
            phase["pages"] += t2 - t1
            phase["decode"] += t3 - t2
            phase["tokenize"] += t4 - t3
            phase["interp"] += (t5 - t4) - (t4 - t0)
        elif looks_like_html(head):
            t0 = pc()
            extract_html(buf)
            phase["html"] += pc() - t0
            n_html += 1
    out = {
        "kernel.docs_per_s": len(docs) / doc_s if doc_s else 0.0,
        "kernel.mb_per_s": n_bytes / 1e6 / doc_s if doc_s else 0.0,
        "kernel.html_ms": 1000 * phase["html"] / n_html if n_html else 0.0,
    }
    for k in ("open", "pages", "decode", "tokenize", "interp"):
        out[f"kernel.{k}_ms"] = 1000 * phase[k] / n_pdf if n_pdf else 0.0
    for code, n in errors.items():
        out[f"kernel.err.{code}"] = n
    if tracer is not None and docs:
        tracer.add("kernel replay", "kernel", wall0, time.time(), None,
                   docs=len(docs), pdf=n_pdf, html=n_html)
    return out, by_kind


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0

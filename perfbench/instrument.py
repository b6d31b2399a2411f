"""Measurement plumbing: spans, Spark REST scraping, process-tree RSS and
the JVM's heap after garbage collection.

Spans are kept in memory and written once when the run ends.  Spark's
per-stage and per-SQL-operator metrics come from the UI's REST API
(``/api/v1/applications/<id>/{jobs,stages,sql}``), which exists only when
the UI is on, so only the traced run turns it on.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    """Spans (name, start, end, parent) around public calls, and one Spark
    job group per operation so its jobs can be found in the REST API."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        if group is not None:
            rec["group"] = group
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, parent: str | None = None) -> list[float]:
        """Durations of the spans called ``name`` (whose parent span is
        called ``parent``, when given), in order."""
        return [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name
            and (parent is None or (s["parent"] is not None and self.spans[s["parent"]]["name"] == parent))
        ]


class NullTracer:
    """Tracing off: the same call sites, no spans and no job groups."""

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        yield None


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of a SQL-metric string as the REST API renders it: ``"1,234"``,
    ``"12.3 MiB"``, or a ``"total (min, med, max ...)\\n12.3 MiB (...)"``
    block whose first figure is the total.  Sizes come back in bytes."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE.get(m.group(2) or "", 1)


class Rest:
    """Reader of one application's UI REST API on localhost."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, groups: set[str], wait_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions, once every job of ``groups`` is
        finished in the UI store (its listener runs asynchronously)."""
        deadline = time.monotonic() + wait_s
        while True:
            jobs = self.get("/jobs")
            mine = [j for j in jobs if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in mine) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = self.get("/stages")
        sql = self.get("/sql?details=true&planDescription=false&length=100000")
        return {"jobs": mine, "stages": stages, "sql": sql}

    def task_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) executor run time of one stage's tasks, in ms."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = q["executorRunTime"]
        return med, top


def spark_metrics(rest: Rest, snap: dict, groups: set[str], wall_s: float, cores: int) -> dict:
    """Spark runtime totals over the jobs of ``groups`` (one iteration)."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") in groups]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [
        s for s in snap["stages"]
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
    ]
    run_ms = sum(s["executorRunTime"] for s in stages)
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 2**20,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.executor_run_s": run_ms / 1e3,
        "spark.core_util": run_ms / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.task_skew": 0.0,
    }
    if stages:
        longest = max(stages, key=lambda s: s["executorRunTime"])
        med, top = rest.task_quantiles(longest)
        out["spark.task_skew"] = top / med if med > 0 else 1.0
    exchanges = arrow_in = arrow_out = generated = 0.0
    for ex in snap["sql"]:
        if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            name = node["nodeName"]
            if "Exchange" in name:
                exchanges += 1
            for m in node.get("metrics", []):
                if name == "Generate" and m["name"] == "number of output rows":
                    generated += metric_value(m["value"])
                elif m["name"] == "data sent to Python workers":
                    arrow_in += metric_value(m["value"])
                elif m["name"] == "data returned from Python workers":
                    arrow_out += metric_value(m["value"])
    out["spark.exchanges"] = exchanges
    out["python.arrow_in_mb"] = arrow_in / 2**20
    out["python.arrow_out_mb"] = arrow_out / 2**20
    out["spark.generate_rows"] = generated  # rows out of explode-like nodes
    return out


def descendants() -> list[int]:
    """Every live process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssPeak:
    """Peak resident size of this process's descendants (the Spark JVM and
    the Python workers it forks): the largest sum, over samples taken every
    ``period_s``, of each live process's own high-water mark (``VmHWM``),
    so a short peak of the JVM between two samples is not missed."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}  # process name -> bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        by_name: dict[str, int] = {}
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh if ":" in line)
                hwm = int(fields["VmHWM"].split()[0]) * 1024
            except (OSError, KeyError, IndexError, ValueError):
                continue  # exited, or a kernel thread
            name = fields["Name"].strip()
            by_name[name] = by_name.get(name, 0) + hwm
        total = sum(by_name.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_name = total, by_name
        return total

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


_GC_PAUSE = re.compile(r"Pause (?:Young|Full).* (\d+)([KMG])->(\d+)([KMG])\(")
_GC_UNIT = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}


def peak_heap_after_gc(log_glob: str) -> int:
    """Largest heap occupancy right after a young or full collection, in
    bytes, over the unified GC logs (``-Xlog:gc``) matching ``log_glob``."""
    peak = 0
    for path in glob.glob(log_glob):
        with open(path) as fh:
            for line in fh:
                m = _GC_PAUSE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _GC_UNIT[m.group(4)])
    return peak

"""Readers the benchmark measures the engine with, all from outside it.

- ProcTree: /proc accounting of the Spark JVM, the PySpark daemon and its
  workers (CPU, page faults, RSS, forks), with a background sampler for
  peak RSS.
- StatusStore: Spark's own status store, read through the driver UI's
  REST API on 127.0.0.1 (stages, jobs and SQL-node metrics, filtered by
  the job groups the benchmark sets).
- Tracer: spans (name, start, end, parent) recorded around calls into the
  engine's layers, kept in memory and written out as JSON at the end.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.25  # ProcTree's peak-RSS sampling period
SETTLE_TIMEOUT_S = 10.0  # how long StatusStore waits for a job group to end


def process_start_monotonic() -> float:
    """time.monotonic() value at which this process was started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(fields[19]) / _HZ
    return time.monotonic() - age


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat. Steal
    is time this VM was runnable but the host ran someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def read_stat(pid: int) -> dict | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    v = raw.rsplit(")", 1)[1].split()
    # v[0] is field 3 (state); field n is v[n - 3]
    return {
        "pid": pid, "comm": comm, "state": v[0], "ppid": int(v[1]),
        "minflt": int(v[7]), "cminflt": int(v[8]),
        "utime": int(v[11]) / _HZ, "stime": int(v[12]) / _HZ,
        "cutime": int(v[13]) / _HZ, "cstime": int(v[14]) / _HZ,
        "rss": int(v[21]) * _PAGE,
    }


class ProcTree:
    """The processes this benchmark started: JVM, daemon and workers."""

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.reset_peaks()

    def descendants(self) -> list[dict]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = read_stat(int(name))
                if st is not None:
                    procs[st["pid"]] = st
        children: dict[int, list[int]] = {}
        for st in procs.values():
            children.setdefault(st["ppid"], []).append(st["pid"])
        out, todo = [], list(children.get(self.root, []))
        while todo:
            pid = todo.pop()
            out.append(procs[pid])
            todo.extend(children.get(pid, []))
        return out

    def snapshot(self) -> dict:
        """Cumulative CPU/faults and current RSS, split JVM vs Python.

        Python workers fork from the daemon and are reaped by it, so their
        CPU and faults land in the daemon's cutime/cminflt when they exit;
        live ones are read directly. Deltas between two snapshots are
        therefore exact across worker exits.
        """
        procs = self.descendants()
        jvm_pids = {p["pid"] for p in procs if p["comm"] == "java"}
        snap = {"jvm_cpu": 0.0, "jvm_rss": 0, "py_user": 0.0, "py_sys": 0.0,
                "py_faults": 0, "py_rss": 0, "py_pids": set()}
        for p in procs:
            if p["pid"] in jvm_pids:
                snap["jvm_cpu"] += p["utime"] + p["stime"]
                snap["jvm_rss"] += p["rss"]
            elif p["comm"].startswith("python") or p["comm"].startswith("pyspark"):
                snap["py_user"] += p["utime"] + p["cutime"]
                snap["py_sys"] += p["stime"] + p["cstime"]
                snap["py_faults"] += p["minflt"] + p["cminflt"]
                snap["py_rss"] += p["rss"]
                if p["ppid"] not in jvm_pids:
                    snap["py_pids"].add(p["pid"])  # a worker, not the daemon
        snap["cpu"] = snap["jvm_cpu"] + snap["py_user"] + snap["py_sys"]
        return snap

    # ---- background sampler (peak RSS, distinct workers)

    def reset_peaks(self) -> None:
        with self._lock:
            self.peak_jvm_rss = 0
            self.peak_py_rss = 0
            self.workers_seen: set[int] = set()

    def _sample_once(self) -> None:
        s = self.snapshot()
        with self._lock:
            self.peak_jvm_rss = max(self.peak_jvm_rss, s["jvm_rss"])
            self.peak_py_rss = max(self.peak_py_rss, s["py_rss"])
            self.workers_seen |= s["py_pids"]

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self._sample_once()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def peaks(self) -> dict:
        self._sample_once()
        with self._lock:
            return {"jvm_rss": self.peak_jvm_rss, "py_rss": self.peak_py_rss,
                    "workers": len(self.workers_seen)}


# ------------------------------------------------------------ status store

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM_RE = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """'1,024', '3.2 MiB', or 'total (min, med, max ...)\\n9.1 s (...)' ->
    the total as a number (bytes, seconds or a count)."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM_RE.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


_PY_NODE_RE = re.compile(r"Python|InPandas|InArrow")


class StatusStore:
    """Stage, job and SQL-node metrics of job groups, via the UI REST API."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self._get("/jobs") if j.get("jobGroup") in groups]

    def group_metrics(self, groups: set[str]) -> dict:
        """Sum the execution metrics of every job in `groups`.

        The status store is fed asynchronously by the listener bus, so wait
        until every job, stage and SQL execution of the groups has ended.
        """
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = self._jobs(groups)
            job_ids = {j["jobId"] for j in jobs}
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("/stages")
                      if s["stageId"] in stage_ids]
            execs = [e for e in self._get("/sql?details=true&planDescription=false"
                                             "&offset=0&length=1000000")
                     if job_ids & set(e.get("successJobIds", [])
                                      + e.get("failedJobIds", [])
                                      + e.get("runningJobIds", []))]
            settled = (all(j["status"] != "RUNNING" for j in jobs)
                       and all(s["status"] not in ("ACTIVE", "PENDING")
                               for s in stages if s["numTasks"])
                       and all(e["status"] != "RUNNING" for e in execs))
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = {
            "jobs": len(jobs),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                         for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "input_rows": sum(s["inputRecords"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
        }
        py = {"python_nodes": 0, "rows_to_python": 0.0,
              "rows_from_python": 0.0, "bytes_to_python": 0.0,
              "bytes_from_python": 0.0, "python_run_s": 0.0,
              "worker_boot_s": 0.0, "worker_init_s": 0.0}
        for e in execs:
            nodes = {n["nodeId"]: n for n in e["nodes"]}
            feeds = {}
            for edge in e.get("edges", []):
                feeds.setdefault(edge["toId"], []).append(edge["fromId"])

            def rows_out(node_id: int) -> float:
                # nodes without a row count (Project, codegen wrappers) pass
                # their inputs' rows through
                m = {x["name"]: parse_sql_metric(x["value"])
                     for x in nodes[node_id]["metrics"]}
                for k in ("number of output rows", "records read"):
                    if k in m:
                        return m[k]
                return sum(rows_out(s) for s in feeds.get(node_id, []))

            for n in e["nodes"]:
                if not _PY_NODE_RE.search(n["nodeName"]):
                    continue
                m = {x["name"]: parse_sql_metric(x["value"]) for x in n["metrics"]}
                py["python_nodes"] += 1
                py["rows_from_python"] += m.get("number of output rows", 0.0)
                py["bytes_to_python"] += m.get("data sent to Python workers", 0.0)
                py["bytes_from_python"] += m.get("data returned from Python workers", 0.0)
                py["python_run_s"] += m.get("time to run Python workers", 0.0)
                py["worker_boot_s"] += m.get("time to start Python workers", 0.0)
                py["worker_init_s"] += m.get("time to initialize Python workers", 0.0)
                py["rows_to_python"] += sum(rows_out(s)
                                            for s in feeds.get(n["nodeId"], []))
        out.update(py)
        return out


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans; `enabled=False` makes every hook a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self._t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0

    def wrap(self, module, attr: str, name: str, before=None, after=None):
        """Replace module.attr with a span-recording wrapper (undone by
        unwrap_all). `before`/`after` run around the call, inside the span."""
        orig = getattr(module, attr)

        def wrapper(*a, **kw):
            with self.span(name):
                if before:
                    before()
                try:
                    return orig(*a, **kw)
                finally:
                    if after:
                        after()

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def total(self, name: str, since: float = 0.0,
              until: float = float("inf")) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and s["start"] >= since and s["end"] <= until)

    def now(self) -> float:
        return time.monotonic() - self._t0

"""Measurement plumbing, all from outside the program:

* ``Tracer`` records spans (name, start, end, parent, run id) around
  calls into the program's public functions, which ``instrument``
  wraps at run time and ``Tracer.close`` unwraps. Each span runs its
  Spark jobs under its own job group, so jobs are attributed to the
  innermost span.
* ``read_event_log`` reduces a Spark event log to per-job and
  per-stage counters.
* ``RssSampler`` samples the summed RSS of this process tree.
* ``fingerprint`` / ``cpu_steal`` describe the host and kernel.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import platform
import threading
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patches: List[tuple] = []
        self.engines: list = []  # UIEEngine instances seen by extract()
        self.overhead = 0.0  # seconds spent in span bookkeeping

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name, static: bool = False):
        """Replace ``owner.attr`` by a traced wrapper; ``name`` is the
        span name or a function of the call's arguments giving it."""
        orig = owner.__dict__[attr] if static else getattr(owner, attr)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        setattr(owner, attr, staticmethod(traced) if static else traced)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        """Undo every wrap, newest first."""
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    def job_ids(self, span: dict) -> List[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(span["group"]))

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t0 = time.perf_counter()
        t = self.t
        sid = len(t.spans)
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "run_id": t.run_id,
            "group": f"{t.run_id}/{sid}/{self.name}",
            "start": time.time(),
            "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(sid)
        self.prev_group = t.sc.getLocalProperty("spark.jobGroup.id")
        t.sc.setJobGroup(self.rec["group"], self.name)
        t.overhead += time.perf_counter() - t0
        self.rec["start"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        t0 = time.perf_counter()
        t = self.t
        t._stack.pop()
        t.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        t.overhead += time.perf_counter() - t0
        return False


def _write_span_name(writer, path, *args, **kwargs) -> str:
    """Name a parquet write by what it commits."""
    p = str(path).rstrip("/")
    if "/triples/part_key=" in p:
        return "engine.sink"
    for suffix, name in (
        ("/lineage", "lineage.append"),
        ("/entities", "canonicalize.write"),
        ("/edges", "graph.write"),
    ):
        if p.endswith(suffix):
            return name
    return "write.parquet"


def instrument(tracer: Tracer) -> None:
    """Wrap the program's public calls (and the two pyspark actions the
    CLI runs between them) with spans."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from uie_pytorch_spark import engine
    from uie_pytorch_spark.kg import canonicalize, graph, lineage
    from uie_pytorch_spark.sources import web_pages

    def extract_span(eng, *args, **kwargs):
        tracer.engines.append(eng)
        return "engine.extract"

    tracer.wrap(engine.UIEEngine, "extract", extract_span)
    tracer.wrap(engine.UIEEngine, "triples", "engine.triples", static=True)
    tracer.wrap(web_pages, "extract_text", "sources.extract_text")
    tracer.wrap(lineage.CheckpointedRun, "run", "lineage.run")
    tracer.wrap(canonicalize, "canonicalize_mentions", "canonicalize.mentions")
    tracer.wrap(graph, "surface_canonical_map", "graph.surface_map")
    tracer.wrap(graph, "entity_edges", "graph.entity_edges")
    tracer.wrap(DataFrameWriter, "parquet", _write_span_name)
    tracer.wrap(DataFrame, "count", "df.count")


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------

_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def read_event_log(path: str) -> Dict:
    """{"jobs": {id: {group, submit_ms, end_ms, stages, ok}},
        "stages": {id: {submit_ms, end_ms, tasks, task_ms: [..],
                        shuffle_bytes, shuffle_records, spill_bytes,
                        failed_tasks, py_in, py_out, python}}}"""
    jobs: Dict[int, dict] = {}
    stages: Dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "submit_ms": None, "end_ms": None, "tasks": 0, "task_ms": [],
            "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
            "failed_tasks": 0, "py_in": 0, "py_out": 0, "python": False,
        })

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit_ms": e["Submission Time"],
                    "end_ms": None,
                    "stages": list(e["Stage IDs"]),
                    "ok": None,
                }
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(e["Job ID"])
                if j is not None:
                    j["end_ms"] = e["Completion Time"]
                    j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                s = stage(info["Stage ID"])
                s["submit_ms"] = info.get("Submission Time")
                s["end_ms"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                s = stage(e["Stage ID"])
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                s["tasks"] += 1
                s["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                if info.get("Failed") or info.get("Killed"):
                    s["failed_tasks"] += 1
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_IN:
                        s["py_in"] += int(acc.get("Update", 0))
                    elif name == _PY_OUT:
                        s["py_out"] += int(acc.get("Update", 0))
                    elif name == _PY_RUN:
                        s["python"] = True
    return {"jobs": jobs, "stages": stages}


def event_log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


# ---------------------------------------------------------------------
# Process tree RSS
# ---------------------------------------------------------------------

def children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


# ---------------------------------------------------------------------
# Host and kernel fingerprint
# ---------------------------------------------------------------------

def cpu_times() -> List[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_steal(before: List[int], after: List[int]) -> float:
    """Steal share (%) of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


def openblas_corename() -> Optional[str]:
    """The kernel family the loaded OpenBLAS actually selected."""
    import ctypes

    import numpy as np

    pattern = os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs", "*openblas*.so*")
    for so in glob.glob(pattern):
        lib = ctypes.CDLL(so)
        for fn in ("openblas_get_corename64_", "openblas_get_corename", "scipy_openblas_get_corename64_"):
            if hasattr(lib, fn):
                f = getattr(lib, fn)
                f.restype = ctypes.c_char_p
                f.argtypes = []
                return f().decode()
    return None


# Conf keys that differ on every launch and say nothing about the setup.
_VOLATILE = ("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
             "spark.driver.port", "spark.driver.host", "spark.eventLog.",
             "spark.local.dir", "spark.sql.warehouse.dir")


def fingerprint(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    conf = sorted(
        (k, v) for k, v in spark.sparkContext.getConf().getAll()
        if not k.startswith(_VOLATILE)
    )
    return {
        "nproc": os.cpu_count(),
        "openblas_coretype_env": os.environ.get("OPENBLAS_CORETYPE"),
        "openblas_corename": openblas_corename(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "spark_conf_sha1": hashlib.sha1(json.dumps(conf).encode()).hexdigest()[:16],
    }


def comparable(a: dict, b: dict) -> List[str]:
    """Reasons two result fingerprints may not be compared (empty when
    they may)."""
    return [
        f"{k}: {a.get(k)!r} != {b.get(k)!r}"
        for k in ("nproc", "openblas_corename", "master")
        if a.get(k) != b.get(k)
    ]

"""Measurement plumbing shared by the workloads: spans around calls into
the engine, the Spark event-log reader that attributes jobs, stages and
tasks to those spans, a peak-RSS sampler and the host context recorded
beside every run.

Nothing here imports the engine, so the module also loads in a
directory that holds only the benchmark.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# plan nodes that run Python workers; Spark tags each RDD a plan node
# creates with the node's name (the RDD "Scope" in the event log)
PYTHON_SCOPE_RE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas"
)


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into the
    engine. Entering a span sets the Spark job description to the span's
    path, so every Spark job the call runs carries it into the event log.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "path": f"{parent['path']}/{name}" if parent else name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        t0 = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(rec["path"])
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1]["path"] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``owner`` is a class (every instance's calls are traced) or one
        object. Class-level callables that are not plain functions
        (classmethods) are re-bound as static wrappers."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        if isinstance(owner, type) and not isinstance(owner.__dict__.get(attr), type(traced)):
            traced = staticmethod(traced)
        setattr(owner, attr, traced)

    def total(self, name: str) -> float:
        return sum(s["dur"] for s in self.spans if s["name"] == name)


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Spark settings for a plain-JSON event log: uncompressed and not
    rolling (Spark 4.1 defaults to zstd, which needs a module this
    interpreter may not have)."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: Path) -> dict:
    """``{"jobs": [...], "stages": [...]}``: every job with its
    description and submission time, and every completed stage with the
    description it ran under, whether it ran Python workers, and its task
    totals."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_desc: dict[tuple, str] = {}
    jobs: list[dict] = []
    stages: dict[tuple, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "job": ev["Job ID"],
                    "desc": props.get("spark.job.description") or "",
                    "submit": ev["Submission Time"] / 1000.0,
                })
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                props = ev.get("Properties") or {}
                stage_desc[key] = props.get("spark.job.description") or ""
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
                st = stages.setdefault(key, _empty_stage())
                st["python"] = bool(PYTHON_SCOPE_RE.search(scopes))
                st["desc"] = stage_desc.get(key, "")
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, _empty_stage())
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += (m.get("Executor Run Time") or 0) / 1000.0
                st["gc_s"] += (m.get("JVM GC Time") or 0) / 1000.0
                st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read") or 0) + (
                    sr.get("Local Bytes Read") or 0
                )
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written") or 0
                st["spill_bytes"] += (m.get("Memory Bytes Spilled") or 0) + (
                    m.get("Disk Bytes Spilled") or 0
                )
    done = [dict(st, stage=key[0]) for key, st in stages.items() if "desc" in st]
    return {"jobs": jobs, "stages": done}


def _empty_stage() -> dict:
    return {
        "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "python": False,
    }


def spark_totals(log: dict, prefixes: tuple[str, ...] = ("",)) -> dict:
    """Jobs, stages, tasks and task totals of the work whose job
    description starts with one of ``prefixes``."""
    return _totals(
        [j for j in log["jobs"] if j["desc"].startswith(prefixes)],
        [s for s in log["stages"] if s["desc"].startswith(prefixes)],
    )


def per_name_totals(log: dict, names: list[str]) -> dict:
    """``spark_totals`` per span name, over the jobs run inside a span of
    that name (child spans included)."""
    return {
        name: _totals(
            [j for j in log["jobs"] if name in j["desc"].split("/")],
            [s for s in log["stages"] if name in s["desc"].split("/")],
        )
        for name in names
    }


def jobs_between(log: dict, t0: float, t1: float) -> int:
    """Jobs submitted in the wall-clock window [t0, t1)."""
    return sum(1 for j in log["jobs"] if t0 <= j["submit"] < t1)


def _totals(jobs: list[dict], stages: list[dict]) -> dict:
    task_s = sum(s["task_s"] for s in stages)
    py_s = sum(s["task_s"] for s in stages if s["python"])
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "task_s": task_s,
        "python_task_s": py_s,
        "python_task_share": py_s / task_s if task_s else 0.0,
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
    }


class RssSampler:
    """Peak resident memory of this process and every process below it
    (the Spark driver JVM, its Python daemon and workers), summed and
    sampled from /proc in a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)


def process_tree(root: int) -> set[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _process_parents():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(children.get(p, []))
    return seen


def wait_for_children(timeout_s: float) -> bool:
    """Wait until every process this one started has ended."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if process_tree(os.getpid()) == {os.getpid()}:
            return True
        time.sleep(0.1)
    return False


def _process_parents():
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        yield int(d), ppid


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_context(root: Path, load_before: list[float], cpu_before: list[int]) -> dict:
    """Host facts recorded beside the metrics of every run, so that a run
    taken on a busy host can be seen as one."""
    cpu_after = cpu_times()
    delta = [b - a for a, b in zip(cpu_before, cpu_after)]
    total = sum(delta[:8]) or 1
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "cpu_steal_share": steal / total,
        "cpu_busy_share": 1.0 - (delta[3] + delta[4]) / total,
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(root),
    }


def _git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def source_digest(root: Path) -> str:
    """Digest of the Python sources the benchmark runs, which identifies
    the code even where the checkout is not a git repository."""
    h = hashlib.sha256()
    files = sorted(
        p for p in root.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__" for part in p.relative_to(root).parts)
    )
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()

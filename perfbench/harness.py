"""Run plumbing shared by every workload: the Spark session and its
shutdown, the process-tree RSS sampler, the span tracer and the event-log
fold that turns Spark's task metrics into per-layer numbers.

Everything a run writes goes under ``<checkout>/.bench_work``; the
per-run scratch directory is removed when the run ends, traces are kept
under ``.bench_work/traces``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Iterator

MB = 1024.0 * 1024.0
HEAP = "2g"


def cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------- session


class Session:
    """One SparkContext inside the run's single JVM.

    ``stop()`` ends the context only; ``shutdown_jvm()`` (once, at the end
    of the run) also stops the JVM and waits for it and every Python
    worker it started to exit."""

    def __init__(self, work: Path, n_cores: int, event_log: Path | None = None):
        from ocr_obsidian_spark.session import build_session

        conf = {
            # a fixed, pre-touched heap: left to grow, the JVM heap's share
            # of the peak RSS varies by ~15% from run to run, which would
            # hide changes in the Python workers' and off-heap memory
            "spark.driver.memory": HEAP,
            "spark.local.dir": str(work / "spark-local"),
            # no hsperfdata file: HotSpot would write it under /tmp.
            # C1 only: under the default tiered JIT, C2 keeps recompiling
            # Spark's planner and runtime for minutes, so a run's median
            # depended on how far that had got (corpus_prep on a 4-core
            # VM: 0.16 of its median between the quartiles of ten runs,
            # 0.07 with C1,
            # which reaches its steady speed within the warm-up)
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.cores = n_cores
        self.event_log = event_log
        # partitions per shuffle and Arrow batch size as bench.py sets them
        self.spark = build_session(
            "perfbench",
            f"local[{n_cores}]",
            shuffle_partitions=max(n_cores, 8),
            extra_conf=conf,
        )

    def stop(self) -> Path | None:
        """End the context; return the finished event-log file, if any."""
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        if self.event_log is None:
            return None
        logs = [p for p in self.event_log.iterdir() if p.name.startswith(app)]
        return next((p for p in logs if not p.name.endswith(".inprogress")), None)


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and its descendants to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = _descendants(os.getpid())
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            if _state(pid) == "Z":  # exited, waiting to be reaped by init
                break
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists() and _state(pid) != "Z":
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# ------------------------------------------------------------ RSS sampler


def _stat(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return raw.rsplit(")", 1)[1].split()


def _state(pid: int) -> str:
    st = _stat(str(pid))
    return st[0] if st else ""


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(entry)
            if st:
                children[int(st[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + _descendants(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc every ``period`` seconds.

    The peak counts a level only once two consecutive samples reach it: a
    child caught between vfork and exec shares the JVM's pages and would
    add the whole JVM a second time for one sample."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        prev = 0
        while not self._stop.is_set():
            cur = tree_rss_bytes(me)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._t.join()


# ----------------------------------------------------------------- tracer


class Tracer:
    """Spans around each public call a workload makes.

    A span records name, start, end, parent span and run id; while
    ``enabled`` every Spark job submitted inside it is tagged
    ``span:<id>`` through ``setJobDescription`` so the event-log fold can
    charge task metrics to it. Disabled, it records nothing and tags
    nothing (the untraced measurement)."""

    def __init__(self, spark: Any, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.iteration: int | None = None

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "iteration": self.iteration,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def ids(self, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["name"] == name]

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out


# ------------------------------------------------------- event-log fold

# Spark's SQL metrics for the Arrow boundary of a Python UDF node
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def fold_event_log(path: Path) -> dict[int, dict[str, Any]]:
    """Task metrics per span id (the ``span:<id>`` job description).

    Per span: jobs, stages that ran tasks, task count, executor run and
    CPU time, GC time, spill, shuffle read/write, scan input, sink output,
    Arrow bytes to/from Python workers and the list of task run times."""
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    per: dict[int, dict[str, Any]] = defaultdict(
        lambda: defaultdict(float, task_s=[], stages=set())
    )
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith("span:"):
                    continue
                sid = int(desc[5:])
                job_span[ev["Job ID"]] = sid
                per[sid]["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                p = per[sid]
                tm = ev.get("Task Metrics") or {}
                p["stages"].add(ev["Stage ID"])
                p["tasks"] += 1
                p["task_s"].append(tm.get("Executor Run Time", 0) / 1e3)
                p["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                p["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                p["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                p["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / MB
                sr = tm.get("Shuffle Read Metrics") or {}
                p["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = tm.get("Shuffle Write Metrics") or {}
                p["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                im = tm.get("Input Metrics") or {}
                p["read_mb"] += im.get("Bytes Read", 0) / MB
                p["read_rows"] += im.get("Records Read", 0)
                om = tm.get("Output Metrics") or {}
                p["write_mb"] += om.get("Bytes Written", 0) / MB
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (PY_SENT, PY_RECV):
                        key = "to_python_mb" if name == PY_SENT else "from_python_mb"
                        p[key] += float(acc.get("Update", 0)) / MB
    for p in per.values():
        p["stages"] = len(p["stages"])
    return dict(per)


def sum_spans(folded: dict[int, dict[str, Any]], ids: set[int]) -> dict[str, Any]:
    """Add up the folded metrics of several spans."""
    out: dict[str, Any] = defaultdict(float, task_s=[])
    for sid in ids:
        for k, v in folded.get(sid, {}).items():
            if k == "task_s":
                out[k].extend(v)
            else:
                out[k] += v
    return out


# ------------------------------------------------------------ work dir


def make_work(root: Path, tag: str) -> Path:
    work = root / ".bench_work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "out"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    return work


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())

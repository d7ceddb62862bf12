"""Run plumbing shared by the workloads: session sizing, set-up timing,
memory sampling, latency statistics, spans and Spark event-log counters."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

def machine(work: Path) -> dict:
    """Size the session to this machine and keep every scratch file in ``work``.

    Must run before pyspark is imported: it sets the environment that the
    engine's ``get_spark`` and PySpark's launcher read.
    """
    cpus = len(os.sched_getaffinity(0))
    avail_mb = cpus * 1024
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    # a quarter of free RAM, at most 2 GiB: the inputs are small, the machine
    # may be shared, and a capped heap keeps peak memory from tracking GC timing
    driver_mb = max(1024, min(2048, avail_mb // 4))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {"cpus": cpus, "driver_memory_mb": driver_mb, "mem_available_mb": avail_mb, "tmp": str(tmp)}


def versions() -> dict:
    import platform
    import subprocess

    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60).stderr.splitlines()
    return {
        "spark": pyspark.__version__,
        "java": java[0] if java else "?",
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def session_confs(env: dict, work: Path, trace: bool) -> dict[str, str]:
    confs = {
        # temp files in the scratch directory; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ----------------------------------------------------------------- memory ---


def _process_tree(root: int) -> dict[int, int]:
    """Resident KiB of ``root`` and each of its live descendants, from /proc."""
    children = defaultdict(list)
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed it
            continue
        children[int(fields[1])].append(int(entry))
        rss[int(entry)] = int(fields[21]) * page_kb
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak_kb = self.peak_processes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = _process_tree(os.getpid())
            if sum(tree.values()) > self.peak_kb:
                self.peak_kb, self.peak_processes = sum(tree.values()), len(tree)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def descendants() -> list[int]:
    return [pid for pid in _process_tree(os.getpid()) if pid != os.getpid()]


# ------------------------------------------------------------- statistics ---


def latency_stats(samples: list[float]) -> dict:
    """Median and 75th percentile (linear interpolation), with sample counts.

    A run holds 20 to 33 samples, so the highest percentile with ten samples
    beyond it would be p50 to p70. p75 is reported instead: p90 rests on the
    three slowest samples, which on operator_mix are two queries' worth and
    moved by a quarter from run to run.
    """
    xs = sorted(samples)
    p75 = statistics.quantiles(xs, n=4, method="inclusive")[-1] if len(xs) > 1 else xs[0]
    return {
        "samples": len(xs),
        "p50_s": statistics.median(xs),
        "tail_s": p75,
        "tail_percentile": 75,
        "tail_samples_beyond": sum(1 for x in xs if x > p75),
        "sorted_s": [round(x, 4) for x in xs],
    }


# ---------------------------------------------------------------- tracing ---


class Tracer:
    """In-memory spans around calls into the engine's layers.

    Once started, each span also becomes the Spark job group of its thread
    (``setJobGroup`` is thread-local), so every job the call launches is
    tagged with the span id and the event log attributes its tasks to it.
    Before ``start``, ``span`` only yields.
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def start(self, sc) -> None:
        """Record spans from now on, tagging jobs on ``sc``."""
        self.sc = sc

    @contextmanager
    def paused(self):
        """Record no spans inside this block (single-threaded use only)."""
        sc, self.sc = self.sc, None
        try:
            yield
        finally:
            self.sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            span_id = f"{self.run_id}-{self._next}"
        rec = {"id": span_id, "name": name, "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id, "thread": threading.current_thread().name, **attrs}
        stack.append(rec)
        self.sc.setJobGroup(span_id, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def named(self, prefix: str) -> list[dict]:
        """Spans named ``prefix`` or nested under that name (``prefix.x``)."""
        return [s for s in self.spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def _events(parts: list[Path]):
    for part in parts:
        with open(part) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_logs(log_dir: Path) -> dict[str, dict]:
    """Per-job-group counters from Spark event logs (one file per context).

    Returns ``{group id: counters}``; the key ``"*"`` sums every task of the
    run, tagged or not. Job and stage ids restart in each context, so each
    file is resolved on its own.
    """
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for app in sorted(log_dir.iterdir()):
        # Spark 4 writes a directory of rolled "events_<n>_<app>" files
        parts = sorted(app.glob("events_*"), key=lambda p: int(p.name.split("_")[1])) if app.is_dir() else [app]
        stage_job: dict[int, int] = {}
        job_group: dict[int, str] = {}
        job_submit: dict[int, float] = {}
        job_first_launch: dict[int, float] = {}
        tasks: list[dict] = []
        for ev in _events(parts):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_submit[job] = ev.get("Submission Time", 0) / 1000
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskStart":
                job = stage_job.get(ev["Stage ID"])
                launch = ev["Task Info"]["Launch Time"] / 1000
                if job is not None and launch < job_first_launch.get(job, float("inf")):
                    job_first_launch[job] = launch
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
        for job, group in job_group.items():
            c = groups[group]
            c["jobs"] += 1
            if job in job_first_launch:
                c["wait_s"] += max(0.0, job_first_launch[job] - job_submit[job])
        stages_seen: dict[str, set] = defaultdict(set)
        for ev in tasks:
            job = stage_job.get(ev["Stage ID"])
            group = job_group.get(job, "")
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            for key in (group, "*"):
                c = groups[key]
                stages_seen[key].add(ev["Stage ID"])
                c["tasks"] += 1
                c["failed_tasks"] += 1 if info.get("Failed") else 0
                c["run_s"] += m.get("Executor Run Time", 0) / 1000
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        for key, stages in stages_seen.items():
            groups[key]["stages"] += len(stages)
    return groups


def layer_counters(tracer: Tracer, groups: dict[str, dict], prefix: str) -> dict:
    """Sum event-log counters and wall time over the spans of one layer."""
    spans = tracer.named(prefix)
    total = defaultdict(float)
    for s in spans:
        for k, v in groups.get(s["id"], {}).items():
            total[k] += v
    roots = [s for s in spans if s["name"] == prefix] or spans
    total["wall_s"] = sum(s["end"] - s["start"] for s in roots)
    total["calls"] = len(roots)
    return total


def busy_ratio(c: dict, cpus: int) -> float:
    return c["run_s"] / (c["wall_s"] * cpus) if c.get("wall_s") else 0.0

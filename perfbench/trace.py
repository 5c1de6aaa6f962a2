"""Measurements taken from outside the program: the process tree's
CPU time and peak memory from /proc, and per-job, per-stage and
per-task figures folded from Spark's own event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    return text[text.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree, so children that
    already exited and were reaped (finished Python workers) still
    count through their parent."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over the live tree."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, busy) ticks of the machine's CPUs so far, from /proc/stat:
    time the hypervisor gave them to others while they had work, and
    time they ran (user, nice, system, irq, softirq)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


def steal_share(since: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted since `since` that the
    hypervisor took away. A closed-loop client waits for all of it, so
    wall time on a shared host stretches by about 1 / (1 - share)."""
    steal, busy = host_cpu_ticks()
    stolen = steal - since[0]
    return stolen / max(stolen + busy - since[1], 1)


# ----------------------------------------------------------- event log

_PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow")
_SCAN_SCOPE = re.compile(r"^Scan ")
_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"


@dataclass
class Job:
    group: str | None
    site: str  # callSite.short; PySpark sets it for collect, first and foreachPartition
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    python: bool = False  # runs a Python exec itself, not only reads its cached output
    scan: bool = False  # scans files itself
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # only stages that ran (skipped ones are absent)
    scans: dict[int, tuple[str | None, int]]  # SQL execution -> (job group, size of files read)

    def select(self, prefix: str) -> "EventLog":
        """The jobs whose job group starts with `prefix`, their stages,
        and the SQL executions run under such a group."""
        def keep(group: str | None) -> bool:
            return group is not None and group.startswith(prefix)

        return self.where(lambda job: keep(job.group),
                          {e: v for e, v in self.scans.items() if keep(v[0])})

    def where(self, pred, scans=None) -> "EventLog":
        """The jobs `pred` keeps, their stages, and `scans` (default:
        all the log's SQL executions)."""
        jobs = {j: job for j, job in self.jobs.items() if pred(job)}
        ids = {s for job in jobs.values() for s in job.stages}
        return EventLog(jobs, {s: st for s, st in self.stages.items() if s in ids},
                        self.scans if scans is None else scans)

    def busy_ms(self) -> int:
        """Wall time covered by at least one running job."""
        total, cur_start, cur_end = 0, None, None
        for job in sorted(self.jobs.values(), key=lambda j: j.start_ms):
            if cur_end is None or job.start_ms > cur_end:
                if cur_end is not None:
                    total += cur_end - cur_start
                cur_start, cur_end = job.start_ms, job.end_ms
            else:
                cur_end = max(cur_end, job.end_ms)
        if cur_end is not None:
            total += cur_end - cur_start
        return total

    def total(self, attr: str, python_only: bool = False) -> int:
        return sum(getattr(s, attr) for s in self.stages.values()
                   if s.python or not python_only)

    def scan_bytes(self) -> int:
        return sum(b for _group, b in self.scans.values())


def _own_rdds(info: dict, computed: set[int]) -> list[dict]:
    """The RDDs a stage computes itself: its lineage from the final RDD,
    cut at persisted RDDs an earlier stage already computed (a cached
    DataFrame lists its whole plan in every stage that reads it)."""
    rdds = {r["RDD ID"]: r for r in info["RDD Info"]}
    parents = {p for r in rdds.values() for p in r["Parent IDs"]}
    out, stack = [], [i for i in rdds if i not in parents]
    while stack:
        r = rdds.get(stack.pop())
        if r is None or r["RDD ID"] in computed:
            continue
        level = r["Storage Level"]
        if level["Use Memory"] or level["Use Disk"]:
            computed.add(r["RDD ID"])
        out.append(r)
        stack.extend(r["Parent IDs"])
    return out


def _scan_metric_ids(plan: dict) -> list[int]:
    """Accumulator ids of the file scans' "size of files read" metric."""
    ids = [m["accumulatorId"] for m in plan.get("metrics", ())
           if _SCAN_SCOPE.match(plan["nodeName"]) and m["name"] == "size of files read"]
    for child in plan.get("children", ()):
        ids.extend(_scan_metric_ids(child))
    return ids


def read_event_log(log_dir: str) -> EventLog:
    """Fold every event file under `log_dir` (one application, rolling
    or not, uncompressed)."""
    def order(path: str) -> tuple:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
        key=order,
    )
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    computed: set[int] = set()
    groups: dict[int, str | None] = {}  # SQL execution -> job group
    scan_ids: dict[int, int] = {}  # accumulator id -> SQL execution
    scan_b: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(props.get("spark.jobGroup.id"),
                                             props.get("callSite.short") or "",
                                             ev["Submission Time"],
                                             stages=list(ev["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage())
                    own = _own_rdds(info, computed)
                    st.python = any(_PYTHON_SCOPE.search(r.get("Scope") or "")
                                    or r["Name"] == "PythonRDD" for r in own)
                    st.scan = any(r["Name"] == "FileScanRDD" for r in own)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    st.tasks += 1
                    st.run_ms += m["Executor Run Time"]
                    st.cpu_ns += m["Executor CPU Time"]
                    st.gc_ms += m["JVM GC Time"]
                    st.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                elif kind in (_SQL_EVENT + "SQLExecutionStart",
                              _SQL_EVENT + "SQLAdaptiveExecutionUpdate"):
                    ex = ev["executionId"]
                    if "jobGroupId" in ev:
                        groups[ex] = ev["jobGroupId"]
                    for acc in _scan_metric_ids(ev["sparkPlanInfo"]):
                        scan_ids[acc] = ex
                elif kind == _SQL_EVENT + "DriverAccumUpdates":
                    for acc, value in ev["accumUpdates"]:
                        if acc in scan_ids:
                            ex = scan_ids[acc]
                            scan_b[ex] = scan_b.get(ex, 0) + value
    scans = {ex: (groups.get(ex), b) for ex, b in scan_b.items()}
    return EventLog(jobs, stages, scans)


def spark_metrics(log: EventLog, items: int, wall_s: float) -> dict[str, tuple[float, str]]:
    """Per-item scheduling and executor figures of the selected jobs."""
    run_ms = log.total("run_ms")
    return {
        "spark.jobs_per_item": (len(log.jobs) / items, "count"),
        "spark.stages_per_item": (len(log.stages) / items, "count"),
        "spark.tasks_per_item": (log.total("tasks") / items, "count"),
        "spark.nojob_s_per_item": (max(wall_s - log.busy_ms() / 1e3, 0.0) / items, "s"),
        "spark.exec_cpu_s_per_item": (log.total("cpu_ns") / 1e9 / items, "s"),
        "spark.gc_s_per_item": (log.total("gc_ms") / 1e3 / items, "s"),
        "spark.cpu_share": (log.total("cpu_ns") / 1e6 / run_ms if run_ms else 0.0, "ratio"),
        "spark.shuffle_mb_per_item": (log.total("shuffle_write_b") / 1e6 / items, "MB"),
        "spark.input_mb_per_item": (log.scan_bytes() / 1e6 / items, "MB"),
        "python.udf_tasks_per_item": (log.total("tasks", python_only=True) / items, "count"),
        "python.udf_run_s_per_item": (log.total("run_ms", python_only=True) / 1e3 / items, "s"),
    }


SCRAPE_LAYERS = ("read", "parse", "star", "sink")


def scrape_layer(log: EventLog, job: Job) -> str:
    """The scrape layer a job belongs to. The sink's writes carry their
    Python call site (`foreachPartition at .../sqlite_sink.py:N`); the
    jobs Spark runs first to materialise the written DataFrame do not,
    and count as star build. The other layers' jobs mostly come from `DataFrame.count()`, which
    PySpark runs without a Python call site, so they are told apart by
    the work their own stages do: a Python exec is the parse UDFs (with
    the page scan that feeds them), a file scan alone is the cache
    read, and the rest is the star build."""
    if os.path.basename(job.site.rsplit(":", 1)[0]) == "sqlite_sink.py":
        return "sink"
    own = [log.stages[s] for s in job.stages if s in log.stages]
    if any(st.python for st in own):
        return "parse"
    if any(st.scan for st in own):
        return "read"
    return "star"


def scrape_metrics(log: EventLog, passes: int) -> dict[str, tuple[float, str]]:
    """Seconds per pass in each scrape layer's jobs, and the CPU share
    of the sink's tasks."""
    m = {}
    for name in SCRAPE_LAYERS:
        sub = log.where(lambda job, name=name: scrape_layer(log, job) == name)
        m[f"scraping.{name}_s_per_pass"] = (sub.busy_ms() / 1e3 / passes, "s")
        if name == "sink":
            run_ms = sub.total("run_ms")
            m["scraping.sink_cpu_share"] = (
                sub.total("cpu_ns") / 1e6 / run_ms if run_ms else 0.0, "ratio")
    return m

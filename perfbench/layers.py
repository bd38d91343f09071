"""Per-layer measurements read from outside the program.

Spans: run -> pipeline stage -> Spark job. Stage spans come from the
``dedup-stage:<name>`` job descriptions the pipeline sets; job spans and
per-stage executor metrics from Spark's in-process status store, and the
Python-worker time from the SQL status store. Both stores are kept with
``spark.ui.enabled=false``. Nothing here runs inside a timed region: the
stores are read after a run ends.
"""

from __future__ import annotations

import json
import os
import re
import resource
import time

STAGES = ("docs", "families", "pairs", "edges", "labels", "clusters", "marked")
STAGE_PREFIX = "dedup-stage:"
_PYTHON_RUN_METRIC = "time to run Python workers"
_MB = 1 << 20
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- host memory ---------------------------------------------------------
def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def mem_available_mb() -> float:
    return _meminfo_mb("MemAvailable")


def mem_total_mb() -> float:
    return _meminfo_mb("MemTotal")


def wait_for_mem(level_file: str, timeout_s: float = 10.0) -> float:
    """Wait until MemAvailable is back to the highest level recorded in
    ``level_file`` by earlier runs (less 512 MB), or ``timeout_s`` passes;
    record and return the level reached. The program gates its 8g heap
    pre-touch on MemAvailable at JVM launch, so a session started while a
    previous JVM's memory is still being returned gets a different heap."""
    try:
        with open(level_file) as f:
            target = float(f.read())
    except (OSError, ValueError):
        target = 0.0
    deadline = time.monotonic() + timeout_s
    avail = mem_available_mb()
    while avail < target - 512 and time.monotonic() < deadline:
        time.sleep(0.25)
        avail = mem_available_mb()
    with open(level_file, "w") as f:
        f.write(str(max(avail, target)))
    return avail


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # the process exited between listing and reading
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by the whole program: this
    process (the driver-side Python), the driver JVM, and every process
    under the JVM (the Python worker daemon and its workers), with the
    children each of them has already reaped. Unlike a wall time, it does
    not grow while the host withholds a CPU from the VM (steal time)."""
    total = 0
    for pid in [jvm_pid, *_descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited, and now counted in its parent's reaped time
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    own = resource.getrusage(resource.RUSAGE_SELF)
    return total / _CLK_TCK + own.ru_utime + own.ru_stime


def steal_s() -> float:
    """Seconds of CPU the host has withheld from this VM, summed over its
    CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def peak_rss_mb(jvm_pid: int) -> float:
    """The driver JVM's VmHWM plus the VmHWM of every process under it
    (the Python worker daemon and its forked workers)."""
    return _vm_hwm_mb(jvm_pid) + sum(_vm_hwm_mb(p) for p in _descendants(jvm_pid))


# -- stage spans -----------------------------------------------------------
class StageSpans:
    """Records when the pipeline switches job descriptions.

    The pipeline sets ``dedup-stage:<name>`` when a stage starts and clears
    it when the stage ends; shadowing ``setJobDescription`` on the session's
    SparkContext object timestamps both edges without touching the program.
    """

    def __init__(self, sc):
        self._sc = sc
        self.marks: list[tuple[str | None, float]] = []
        self.self_s = 0.0  # time the hook adds to the run's wall

    def __enter__(self):
        original = self._sc.setJobDescription

        def record(value):
            t0 = time.perf_counter()
            self.marks.append((value, time.time()))
            self.self_s += time.perf_counter() - t0
            original(value)

        self._sc.setJobDescription = record
        return self

    def __exit__(self, *exc):
        del self._sc.setJobDescription

    def spans(self) -> dict[str, tuple[float, float]]:
        out: dict[str, tuple[float, float]] = {}
        for (value, t0), (_, t1) in zip(self.marks, self.marks[1:]):
            if value and value.startswith(STAGE_PREFIX):
                out[value[len(STAGE_PREFIX):]] = (t0, t1)
        return out


# -- status stores ---------------------------------------------------------
def _duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing metric: either '12 ms' or
    'total (min, med, max (...))\\n1.5 s (...)' — the total comes first."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        raise ValueError(f"unparsed timing metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class StatusStores:
    """One-call-per-list JSON reads of the app and SQL status stores."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def watermark(self) -> tuple[int, int, int]:
        """(last job id, last stage id, last SQL execution id) so far."""
        execs = self._conv.asJava(self._sql.executionsList())
        return (
            max((j["jobId"] for j in self.jobs_after(-1)), default=-1),
            max((s["stageId"] for s in self._stage_rows()), default=-1),
            max((e.executionId() for e in execs), default=-1),
        )

    def jobs_after(self, job_id: int) -> list[dict]:
        return [j for j in self._json(self._app.jobsList(None)) if j["jobId"] > job_id]

    def _stage_rows(self) -> list[dict]:
        return self._json(self._app.stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0), None))

    def stages_after(self, stage_id: int) -> list[dict]:
        """Latest completed attempt of each stage after ``stage_id``. A
        stage skipped because its shuffle output already existed never
        completes, so no stage is counted twice."""
        out: dict[int, dict] = {}
        for s in self._stage_rows():
            sid = s["stageId"]
            if sid > stage_id and s["status"] == "COMPLETE" and s["attemptId"] >= out.get(sid, {}).get("attemptId", -1):
                out[sid] = s
        return list(out.values())

    def python_s_by_job(self, exec_id: int) -> dict[int, float]:
        """Python-worker run time (summed over tasks) of each SQL execution
        after ``exec_id``, keyed by the execution's first job id."""
        out: dict[int, float] = {}
        for e in self._conv.asJava(self._sql.executionsList()):
            if e.executionId() <= exec_id:
                continue
            # a re-optimized plan lists an operator's metric again
            accs = {m.accumulatorId() for m in self._conv.asJava(e.metrics())
                    if m.name() == _PYTHON_RUN_METRIC}
            jobs = sorted(self._conv.asJava(e.jobs()).keySet())
            if not accs or not jobs:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            out[jobs[0]] = out.get(jobs[0], 0.0) + sum(
                _duration_s(values[a]) for a in accs if a in values)
        return out

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def stage_metrics(
    stage_times: dict[str, float],
    stage_rows: dict[str, int],
    spans: dict[str, tuple[float, float]],
    jobs: list[dict],
    stages: list[dict],
    python_by_job: dict[int, float],
) -> dict[str, float]:
    """Per pipeline stage S: S.wall_s, S.rows, S.jobs, S.tasks,
    S.exec_run_s, S.exec_cpu_s, S.shuffle_read_mb, S.shuffle_write_mb,
    S.spill_mb, S.python_s and S.driver_s (wall minus the union of the
    stage's job spans: planning and driver-side barriers)."""
    out: dict[str, float] = {}
    for name in STAGES:
        label = STAGE_PREFIX + name
        mine = [j for j in jobs if j.get("description") == label]
        ran = [s for s in stages if s.get("description") == label]
        t0, t1 = spans.get(name, (0.0, 0.0))
        job_spans = [
            (max(t0, j["submissionTime"] / 1000), min(t1, j["completionTime"] / 1000))
            for j in mine if j.get("submissionTime") and j.get("completionTime")
        ]
        wall = stage_times[name]
        out.update({
            f"{name}.wall_s": wall,
            f"{name}.jobs": len(mine),
            f"{name}.tasks": sum(s["numCompleteTasks"] for s in ran),
            f"{name}.exec_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            f"{name}.exec_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            f"{name}.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / _MB,
            f"{name}.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / _MB,
            f"{name}.spill_mb": sum(s["diskBytesSpilled"] for s in ran) / _MB,
            f"{name}.python_s": sum(python_by_job.get(j["jobId"], 0.0) for j in mine),
            f"{name}.driver_s": max(0.0, wall - _union_s([s for s in job_spans if s[1] > s[0]])),
        })
        if name in stage_rows:
            out[f"{name}.rows"] = stage_rows[name]
    return out

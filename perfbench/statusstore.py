"""Cost readers that need no hooks inside the engine.

* ``StatusStoreReader`` profiles one operation from Spark's own status
  stores. Every operation runs under its own job group; afterwards the job
  ids of that group lead to their stages (``statusStore().job(id).stageIds()``
  and ``lastStageAttempt(sid)``), and the SQL executions started during the
  operation lead to their plan graphs' operator metrics.
* ``ProcessMeter`` reads CPU-seconds and peak memory of the JVM (with any
  Python workers it forked) and of this Python driver from ``/proc``.

SQL timing metrics are inclusive of pipelined children, so each metric kind
is summed only over operators of its own kind (all scans, all broadcast
exchanges, ...) and kinds are never added together. Stage figures are
deduplicated by stage id, and stages skipped by reuse are not counted.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from perfbench.spans import union_s

_TICK = os.sysconf("SC_CLK_TCK")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")

STAGE_KEYS = (
    "jobs", "stages", "tasks", "driver_gap_s", "executor_cpu_s",
    "executor_run_s", "gc_s", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_write_s", "spill_bytes",
)
SQL_KEYS = (
    "scan_s", "scan_bytes", "scan_rows", "broadcast_build_s", "shj_build_s",
    "agg_build_s",
)
# (plan-node name prefix, SQL metric name, profile key)
_NODE_METRICS = (
    ("Scan", "scan time", "scan_s"),
    ("Scan", "size of files read", "scan_bytes"),
    ("Scan", "number of output rows", "scan_rows"),
    ("BroadcastExchange", "time to collect", "broadcast_build_s"),
    ("BroadcastExchange", "time to build", "broadcast_build_s"),
    ("ShuffledHashJoin", "time to build hash map", "shj_build_s"),
    ("HashAggregate", "time in aggregation build", "agg_build_s"),
    ("ObjectHashAggregate", "time in aggregation build", "agg_build_s"),
)


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric in base units (s, bytes, count).

    Task-level metrics read ``total (min, med, max ...)\\n<total> (...)``;
    driver-level ones are the bare value. The total is what is returned."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusStoreReader:
    """Per-operation layer profile from the live status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_mark = 0

    def begin(self, group: str, description: str) -> None:
        """Put the next operation's jobs in their own job group."""
        self.sc.setJobGroup(group, description)
        self._sql_mark = self._sql_store().executionsCount()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def profile(self, group: str, t0: float, t1: float) -> dict[str, float]:
        """Profile of the operation that ran in ``group`` over wall-clock
        ``[t0, t1]`` (``time.time()`` seconds)."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(STAGE_KEYS + SQL_KEYS, 0.0)
        store = self._jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = float(len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        active: list[tuple[float, float]] = []
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_write_records"] += st.shuffleWriteRecords()
            out["shuffle_write_s"] += st.shuffleWriteTime() / 1e9
            out["spill_bytes"] += st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                active.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out["driver_gap_s"] = (t1 - t0) - union_s(active, t0, t1)
        self._add_sql_metrics(out)
        return out

    def _add_sql_metrics(self, out: dict[str, float]) -> None:
        sql = self._sql_store()
        n = sql.executionsCount()
        if n <= self._sql_mark:
            return
        execs = sql.executionsList(self._sql_mark, n - self._sql_mark)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = str(node.name())
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _node_metric(name, str(m.name()))
                    if key and values.contains(m.accumulatorId()):
                        out[key] += parse_metric(str(values.apply(m.accumulatorId())))


def _node_metric(node: str, metric: str) -> str | None:
    for prefix, mname, key in _NODE_METRICS:
        if metric == mname and node.startswith(prefix):
            return key
    return None


class ProcessMeter:
    """CPU-seconds and peak resident memory of the JVM and this driver."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    @staticmethod
    def _stat(path: Path) -> list[str] | None:
        try:
            return path.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            return None

    def sample(self) -> dict[str, int]:
        """CPU ticks so far per JVM thread, per process the JVM forked
        (Python workers, with their reaped children) and for this driver.

        Deltas are taken per key, so a thread that exits between two samples
        drops out instead of taking its whole history with it. The JVM's JIT
        compiler threads are left out: their work fades as the JVM warms up,
        and within a run's few passes it would set most of the run-to-run
        spread."""
        out: dict[str, int] = {}
        for task in Path(f"/proc/{self.jvm_pid}/task").iterdir():
            try:
                if (task / "comm").read_text().startswith(_JIT_THREADS):
                    continue
            except OSError:
                continue
            st = self._stat(task / "stat")
            if st:
                out[f"t{task.name}"] = int(st[11]) + int(st[12])
        parents: dict[int, list[int]] = {}
        for d in Path("/proc").iterdir():
            if d.name.isdigit():
                st = self._stat(d / "stat")
                if st:
                    parents.setdefault(int(st[1]), []).append(int(d.name))
        todo = list(parents.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            st = self._stat(Path(f"/proc/{pid}/stat"))
            if st:
                out[f"p{pid}"] = sum(int(x) for x in st[11:15])
            todo.extend(parents.get(pid, []))
        t = os.times()
        out["driver"] = round((t.user + t.system) * _TICK)
        return out

    @staticmethod
    def cpu_s(before: dict[str, int], after: dict[str, int]) -> float:
        return sum(max(0, v - before.get(k, 0)) for k, v in after.items()) / _TICK

    def peak_rss_mb(self) -> float:
        """JVM ``VmHWM`` plus this process's, in MiB."""
        return (_hwm_kb(self.jvm_pid) + _hwm_kb(os.getpid())) / 1024


def reset_own_peak() -> None:
    """Restart this process's ``VmHWM`` from its current RSS, so that the
    fixture generation and DuckDB oracle of a checkout's first run do not
    set the workload's peak (what they leave allocated still counts: about
    50 MiB on that one run)."""
    Path("/proc/self/clear_refs").write_text("5")


def _hwm_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0

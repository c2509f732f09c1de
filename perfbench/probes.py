"""Readers for the numbers the benchmark reports, all taken from outside the
engine: Spark's status store (stages, jobs), the SQL status store (plan
nodes and their metrics), JVM MXBeans, and ``/proc`` for CPU, memory and
host steal time. Nothing here changes what the engine runs.
"""
from __future__ import annotations

import json
import os
import re
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


# ---------------------------------------------------------------- /proc --

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (Python workers hang below the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """Running, as opposed to ended (gone, or a zombie nobody reaped)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the processes, including reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def hwm_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        raw = _read(f"/proc/{pid}/status")
        m = re.search(r"^VmHWM:\s+(\d+) kB", raw or "", re.M)
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from ``/proc``."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _CLK_TCK


# ---------------------------------------------------------------- Spark --

_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)


def _parse_value(text: str) -> float:
    """Leading number of a formatted SQL metric, sizes in bytes
    ("1,234", "12.3 KiB", "46 ms (21 ms, ...)")."""
    m = re.match(r"\s*(-?[0-9][0-9,]*\.?[0-9]*)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


def plan_nodes(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric: value}) for each node of a plan graph's DOT
    export. A metric aggregated over tasks prints its total on the next
    line: "name total (min, med, max ...)<br>12.3 KiB (...)"."""
    nodes = []
    for label in _NODE.findall(dot):
        parts = [x for x in label.split("<br>") if x]
        if not parts:
            continue
        name = re.sub(r"</?b>", "", parts[0])
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            head = parts[i]
            if " total (min, med, max" in head and i + 1 < len(parts):
                metrics[head.split(" total (")[0]] = _parse_value(parts[i + 1])
                i += 2
                continue
            key, _, val = head.rpartition(": ")
            if key:
                metrics[key] = _parse_value(val)
            i += 1
        nodes.append((name, metrics))
    return nodes


class SparkProbe:
    """Incremental reader of the status stores: ``mark()`` remembers the
    newest job, stage and SQL execution; ``since(mark)`` sums what ran after
    it. The benchmark is the only client, so everything after a mark
    belongs to the operation that followed it. Status objects cross py4j
    as one JSON string each, because every py4j call is a round trip."""

    def __init__(self, spark):
        self.spark = spark
        jvm = self.jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        mx = jvm.java.lang.management.ManagementFactory
        self._compile = mx.getCompilationMXBean()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def pids(self) -> list[int]:
        return sorted(set(process_tree(self.jvm_pid)) | {os.getpid()})

    def jit_ms(self) -> float:
        return float(self._compile.getTotalCompilationTime())

    def pinned_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        self.jsc.listenerBus().waitUntilEmpty()
        return self._json(self.store.jobsList(self._empty))

    def mark(self) -> dict:
        jobs = self._jobs()
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s for j in jobs for s in j["stageIds"]), default=-1),
            "sql": int(self.sql_store.executionsCount()),
        }

    def since(self, mark: dict) -> tuple[dict, dict]:
        """(layer counters of what ran after ``mark``, a new mark)."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "input_bytes", "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "result_bytes", "exchanges", "python_bytes_sent",
             "python_bytes_received", "python_rows", "widest_join_rows"), 0.0)
        jobs = [j for j in self._jobs() if j["jobId"] > mark["job"]]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"] if s > mark["stage"]})
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            for s in self._json(self.store.stageData(sid, False, self._empty, False,
                                                     self._no_quantiles)):
                if s["status"] != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += s["numCompleteTasks"]
                out["task_run_s"] += s["executorRunTime"] / 1e3
                out["task_cpu_s"] += s["executorCpuTime"] / 1e9
                out["gc_s"] += s["jvmGcTime"] / 1e3
                out["input_bytes"] += s["inputBytes"]
                out["input_rows"] += s["inputRecords"]
                out["shuffle_read_bytes"] += s["shuffleReadBytes"]
                out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                out["result_bytes"] += s["resultSize"]
        count = int(self.sql_store.executionsCount())
        new_execs = (_seq(self.jvm, self.sql_store.executionsList(mark["sql"], count - mark["sql"]))
                     if count > mark["sql"] else [])
        for e in new_execs:
            eid = e.executionId()
            dot = self.sql_store.planGraph(eid).makeDotFile(self.sql_store.executionMetrics(eid))
            self._add_plan(plan_nodes(dot), out)
        new_mark = {
            "job": max([mark["job"], *(j["jobId"] for j in jobs)]),
            "stage": max([mark["stage"], *stage_ids]),
            "sql": count,
        }
        return out, new_mark

    @staticmethod
    def _add_plan(nodes: list[tuple[str, dict]], out: dict) -> None:
        for name, metrics in nodes:
            if "Exchange" in name:
                out["exchanges"] += 1
            if "data sent to Python workers" in metrics:
                out["python_bytes_sent"] += metrics["data sent to Python workers"]
                out["python_bytes_received"] += metrics.get("data returned from Python workers", 0.0)
                out["python_rows"] += metrics.get("number of output rows", 0.0)
            if name.startswith(JOIN_NODES):
                out["widest_join_rows"] = max(out["widest_join_rows"],
                                              metrics.get("number of output rows", 0.0))


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))

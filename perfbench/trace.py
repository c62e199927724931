"""Measurement probes owned by the benchmark: a span recorder, the
process-tree CPU split, Python-worker peak RSS, and per-span Spark stage
metrics read from the UI's REST API.

Nothing here runs inside ``hll_spark``: spans wrap the benchmark's own
calls into the library, and Spark jobs are attributed to a span through
the job group the recorder sets while the span is open.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree: driver (this process), the local-mode JVM, Python workers


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own CPU s, CPU s of reaped children) from /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it may not
        fields = data[data.rfind(")") + 2:].split()
        own = (int(fields[11]) + int(fields[12])) / _TICK
        reaped = (int(fields[13]) + int(fields[14])) / _TICK
        table[int(name)] = (int(fields[1]), own, reaped)
    return table


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcessTree:
    """CPU seconds of the driver, the JVM and the Python workers.

    Like ``bench._tree_cpu_seconds`` this sums user+sys time of the live
    process tree, which is immune to hypervisor steal and includes the
    Python workers that Spark's executorCpuTime misses. It also counts
    the CPU of worker processes that exited and were reaped inside the
    tree (cutime/cstime of their Python parent), so a worker that dies
    between two snapshots does not make a delta shrink.
    """

    def __init__(self) -> None:
        self.me = os.getpid()

    def _split(self, table) -> tuple[float, float, float, list[int]]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        jvms, todo = [], list(children.get(self.me, []))
        while todo:
            pid = todo.pop()
            if _comm(pid) == "java":
                jvms.append(pid)
            else:
                todo.extend(children.get(pid, []))
        workers, todo = [], [c for j in jvms for c in children.get(j, [])]
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(children.get(pid, []))
        driver = table[self.me][1]
        # the JVM's own reaped children are the launcher that started it
        jvm = sum(table[p][1] for p in jvms)
        python = sum(table[p][1] + table[p][2] for p in workers)
        return driver, jvm, python, workers

    def cpu(self) -> dict[str, float]:
        driver, jvm, python, _ = self._split(_proc_table())
        return {
            "driver": driver,
            "jvm": jvm,
            "python_workers": python,
            "total": driver + jvm + python,
        }

    def worker_pids(self) -> list[int]:
        return self._split(_proc_table())[3]

    def reset_worker_peak_rss(self) -> None:
        """Reset VmHWM of every live Python worker to its current RSS."""
        for pid in self.worker_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def worker_peak_rss_mb(self) -> float:
        """Sum over live Python workers of their peak RSS (VmHWM)."""
        total_kb = 0
        for pid in self.worker_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory span recorder. Each span sets the Spark job group to its
    own id while open, so Spark stage metrics can be attributed to it."""

    def __init__(self, spark, run_id: str, procs: ProcessTree) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.procs = procs
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group(rec)
        cpu0 = self.procs.cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu"] = cpu_delta(cpu0, self.procs.cpu())
            self._open.pop()
            self._set_group(parent)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def wall(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ---------------------------------------------------------------------------
# Spark status REST API


class SparkRest:
    """Stage metrics of the jobs run under given job groups."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # the UI is on localhost: never route it through a proxy
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self.opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def _jobs_settled(self, groups: set[str], timeout: float = 10.0) -> list[dict]:
        """Jobs of ``groups`` once the status store has seen them all end
        (listener events arrive asynchronously after an action returns)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError("Spark jobs still running after the span ended")
            time.sleep(0.1)

    def group_metrics(self, groups: list[str]) -> dict[str, dict[str, float]]:
        jobs = self._jobs_settled(set(groups))
        stage_ids: dict[str, set[int]] = {g: set() for g in groups}
        jobs_per_group = {g: 0 for g in groups}
        for j in jobs:
            jobs_per_group[j["jobGroup"]] += 1
            stage_ids[j["jobGroup"]].update(j["stageIds"])
        out = {}
        for g in groups:
            m = {
                "jobs": float(jobs_per_group[g]),
                "stages": 0.0,
                "tasks": 0.0,
                "scan_bytes": 0.0,
                "shuffle_write_bytes": 0.0,
                "shuffle_read_bytes": 0.0,
                "executor_run_s": 0.0,
                "jvm_cpu_s": 0.0,
                "gc_s": 0.0,
                "scheduler_delay_s": 0.0,
                "failed_tasks": 0.0,
                "task_skew": 0.0,
            }
            for sid in sorted(stage_ids[g]):
                for st in self._get(f"/stages/{sid}"):
                    if st["status"] == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += st["numTasks"]
                    m["scan_bytes"] += st["inputBytes"]
                    m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    m["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    m["executor_run_s"] += st["executorRunTime"] / 1e3
                    m["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
                    m["gc_s"] += st["jvmGcTime"] / 1e3
                    m["failed_tasks"] += st["numFailedTasks"]
                    tasks = self._get(
                        f"/stages/{sid}/{st['attemptId']}/taskList?length=100000"
                    )
                    m["scheduler_delay_s"] += (
                        sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
                    )
                    if st["inputBytes"] > 0:
                        # level-0 (scan) stage: slowest task over the median
                        runs = [
                            t["taskMetrics"]["executorRunTime"]
                            for t in tasks
                            if t.get("taskMetrics")
                        ]
                        med = statistics.median(runs) if runs else 0
                        if med > 0:
                            m["task_skew"] = max(m["task_skew"], max(runs) / med)
            out[g] = m
        return out

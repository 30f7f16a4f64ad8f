"""Outside-in tracing of the engine's layers.

The benchmark calls every layer through :meth:`Tracer.call` and
materializes its result through :meth:`Tracer.materialize`. The
untraced :class:`Tracer` only runs the call. :class:`LayerTracer`, used
in ``--trace 1`` runs, records for each call:

* wall time of the call (``build_s``: plan construction plus any jobs
  the engine launches eagerly while building) and of the
  materialization (``exec_s``);
* Catalyst phase time of the returned frame (``plan_s``), read from its
  ``QueryPlanningTracker``;
* py4j commands sent while the call builds its plan (``py4j_calls``),
  not counting the gateway's object-release messages, which garbage
  collection sends at unpredictable times;
* jobs, tasks, shuffle-write and spill megabytes, from one Spark job
  group per call (read back through ``statusTracker``) and from the
  Spark event log, parsed with the standard library once the session
  has stopped. Jobs launched from engine-owned threads carry no job
  group; they are attributed by submission time, which is exact in
  this closed loop because one call is in flight at a time;
* CPU seconds of the Python worker processes, from ``/proc``.

Nothing in the engine is modified.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

MEMORY_DEL = "m\nd\n"  # py4j object-release command prefix
_TICK = os.sysconf("SC_CLK_TCK")
MB = 1e6


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Untraced: runs the call and nothing else."""

    measured = False  # set once the cold unit is done

    def call(self, layer: str, fn):
        return fn()

    def materialize(self, layer: str, df, action=noop_write):
        return action(df)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def python_workers(jvm_pid: int) -> list[int]:
    """The Python daemon and worker processes the JVM has started."""
    return [p for p in descendants(jvm_pid) if _is_python(p)]


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the processes and of their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_cpu_seconds(jvm_pid: int) -> float:
    """CPU of the benchmark process, the driver JVM and its Python
    workers, reaped ones included. The kernel leaves out time the
    hypervisor stole from the machine."""
    return cpu_seconds([os.getpid(), jvm_pid, *python_workers(jvm_pid)])


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemoryWatch:
    """High-water RSS of the driver JVM, this process and every Python
    worker seen, sampled between rounds so that workers which exit early
    still count."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.hwm: dict[int, float] = {}

    def sample(self) -> None:
        for pid in (self.jvm_pid, os.getpid(), *python_workers(self.jvm_pid)):
            self.hwm[pid] = max(self.hwm.get(pid, 0.0), hwm_mb(pid))

    def peak_mb(self) -> float:
        """Sum over the processes of their high-water marks."""
        self.sample()
        return sum(self.hwm.values())

    def breakdown(self) -> str:
        workers = sum(v for p, v in self.hwm.items() if p not in (self.jvm_pid, os.getpid()))
        return (f"jvm={self.hwm.get(self.jvm_pid, 0.0):.0f} driver={self.hwm.get(os.getpid(), 0.0):.0f} "
                f"workers={workers:.0f} ({len(self.hwm) - 2} processes)")


class LayerTracer(Tracer):
    def __init__(self, spark, jvm_pid: int, event_log_dir: Path):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.event_log_dir = event_log_dir
        self.records: list[dict] = []
        self.bookkeeping_s = 0.0
        self._py4j = 0
        self._counting = False
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self._counting and not command.startswith(MEMORY_DEL):
                self._py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    def _open(self, rec: dict) -> None:
        t = time.perf_counter()
        self.sc.setJobGroup(rec["group"], rec["layer"])
        rec["cpu0"] = cpu_seconds(python_workers(self.jvm_pid))
        self.bookkeeping_s += time.perf_counter() - t

    def _close(self, rec: dict) -> None:
        t = time.perf_counter()
        cpu = cpu_seconds(python_workers(self.jvm_pid)) - rec.pop("cpu0")
        rec["pyworker_cpu_s"] = rec.get("pyworker_cpu_s", 0.0) + cpu
        rec["wall1_ms"] = time.time() * 1000
        rec["job_ids"] = rec.get("job_ids", set()) | set(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bookkeeping_s += time.perf_counter() - t

    def call(self, layer: str, fn):
        rec = {"layer": layer, "group": f"perfbench-{len(self.records)}", "measured": self.measured,
               "wall0_ms": time.time() * 1000}
        self.records.append(rec)
        self._open(rec)
        self._py4j, self._counting = 0, True
        t = time.perf_counter()
        try:
            return fn()
        finally:
            rec["build_s"] = time.perf_counter() - t
            self._counting = False
            rec["py4j_calls"] = self._py4j
            self._close(rec)

    def materialize(self, layer: str, df, action=noop_write):
        rec = self.records[-1]
        if rec["layer"] != layer:
            raise RuntimeError(f"materialize({layer!r}) follows a call into {rec['layer']!r}")
        t = time.perf_counter()
        rec["plan_s"] = self._plan_seconds(df)
        self.bookkeeping_s += time.perf_counter() - t
        self._open(rec)
        t = time.perf_counter()
        try:
            return action(df)
        finally:
            rec["exec_s"] = time.perf_counter() - t
            self._close(rec)

    @staticmethod
    def _plan_seconds(df) -> float:
        """Catalyst phase time (analysis, optimization, planning) of the
        frame's own query execution, forcing its physical plan first."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        return ms / 1000

    # -- event log ---------------------------------------------------------

    def attribute_event_log(self) -> None:
        """Fill jobs/tasks/shuffle/spill into each record. Call after the
        session has stopped, so the log is complete."""
        logs = sorted(p for p in self.event_log_dir.iterdir() if p.is_file())
        if len(logs) != 1:
            raise RuntimeError(f"expected one Spark event log in {self.event_log_dir}, found {len(logs)}")
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(logs[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit_ms": ev["Submission Time"],
                                 "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                                 "tasks": 0, "shuffle_b": 0, "spill_b": 0}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["shuffle_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_b"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        for rec in self.records:
            mine = rec.get("job_ids", set())
            mine |= {jid for jid, j in jobs.items() if j["group"] == rec["group"]}
            mine |= {jid for jid, j in jobs.items()
                     if j["group"] is None and rec["wall0_ms"] <= j["submit_ms"] <= rec["wall1_ms"]}
            rec["jobs"] = len(mine)
            rec["tasks"] = sum(jobs[j]["tasks"] for j in mine if j in jobs)
            rec["shuffle_mb"] = sum(jobs[j]["shuffle_b"] for j in mine if j in jobs) / MB
            rec["spill_mb"] = sum(jobs[j]["spill_b"] for j in mine if j in jobs) / MB

    def layer_metrics(self, fields: tuple[str, ...]) -> dict[str, float]:
        """Per layer, the median over its measured calls of each field;
        the cold unit's calls are left out."""
        by_layer: dict[str, list[dict]] = {}
        for rec in filter(lambda r: r["measured"], self.records):
            by_layer.setdefault(rec["layer"], []).append(rec)
        return {f"{layer}.{field}": statistics.median(r.get(field, 0.0) for r in recs)
                for layer, recs in by_layer.items() for field in fields}

"""Per-layer measurement from outside the program.

Four sources, all read by the benchmark's own code:

- ``Timed`` wraps a public function of a program module in place and
  records the wall time of every call; the program resolves these
  functions through their module at call time, so the wrapper sees
  every call the stream makes.
- ``JobStats`` reads Spark's status store (it is kept with the UI
  off): jobs, stages, executor CPU time, shuffle and input counts.
- ``tree_cpu_s`` reads ``/proc``: the CPU time of this process and of
  every process it started (the JVM, Spark's Python workers).
- ``Stopwatch`` times one operation in wall time and reads the
  machine's steal share over it from ``/proc/stat``: the share of CPU
  time the hypervisor gave to other machines while the operation ran.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass


class Timed:
    """Replace ``module.name`` by a timing wrapper until ``restore``."""

    def __init__(self, module, name: str) -> None:
        self.module, self.name = module, name
        self.orig = getattr(module, name)
        self.calls: list[float] = []
        self.results: list = []

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = self.orig(*args, **kwargs)
            finally:
                self.calls.append(time.perf_counter() - t0)
            self.results.append(out)
            return out

        setattr(module, name, wrapper)

    def restore(self) -> None:
        setattr(self.module, self.name, self.orig)


@dataclass
class Totals:
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    input_rows: int = 0


class JobStats:
    """Status-store reader for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def all_job_ids(self) -> list[int]:
        self.settle()
        seq = self.jsc.statusStore().jobsList(None)
        return [seq.apply(i).jobId() for i in range(seq.size())]

    def group_job_ids(self, group: str) -> list[int]:
        self.settle()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> Totals:
        """Sum executor CPU, shuffle write and input rows over the
        distinct stages that ran for ``job_ids``."""
        self.settle()
        store = self.jsc.statusStore()
        out = Totals(jobs=len(job_ids))
        stages: set[int] = set()
        for jid in job_ids:
            sids = store.job(jid).stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        for sid in stages:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            out.cpu_s += s.executorCpuTime() / 1e9
            out.shuffle_bytes += s.shuffleWriteBytes()
            out.input_rows += s.inputRecords()
        return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process and all
    its live descendants, each with its reaped children: the driver's
    Python (foreachBatch handlers, plan building), the JVM (task
    threads, JIT compilers, GC, streaming bookkeeping) and Spark's
    Python workers (UDFs, Arrow maps).  A worker that exits between
    two reads is counted through its parent's reaped-children time."""
    stat: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process has exited
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        f = raw[raw.rindex(")") + 2:].split()
        stat[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, wanted) clock ticks of every CPU of the machine so far,
    from the first line of ``/proc/stat`` (user nice system idle iowait
    irq softirq steal; guest time is part of user).  ``wanted`` is
    every tick a vCPU had work to run: all but idle and iowait."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks) - ticks[3] - ticks[4]


class Stopwatch:
    """Wall time since construction, with the machine's steal share
    over the same interval taken out.

    On a virtual machine the hypervisor runs other machines' work on
    the same physical cores; a vCPU that has work but waits for the
    hypervisor (steal) does none of this program's work, and the guest
    kernel charges those ticks to no process, so CPU times already
    leave them out.  ``time_s`` scales wall time by the share of the
    ticks with work to run that were not stolen: what the operation
    would take on a machine of its own.  Without steal the two
    readings are equal."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()

    def wall_s(self) -> float:
        return time.perf_counter() - self.t0

    def time_s(self) -> float:
        wall = self.wall_s()
        steal, wanted = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        return wall * (1 - steal / wanted) if wanted > 0 else wall

"""Operation accounting, process-tree sampling and summary statistics.

One ``Run`` holds everything a benchmark run records: per-operation
latencies split into writes and reads, failures counted against attempts,
and per-pass wall time, CPU time and resident memory of the process tree
(this driver, the Spark JVM and its Python workers), read from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

_CLK = os.sysconf("SC_CLK_TCK")
# percentiles a tail may be reported at, highest first
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


class CheckFailed(Exception):
    """An operation returned a result that disagrees with the model."""


def expect(name: str, got: Any, want: Any) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")


# ------------------------------------------------------------ statistics --


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest ladder percentile that leaves at
    least ten samples beyond it; the maximum when there are fewer than 20."""
    n = len(values)
    for p in _TAIL_LADDER:
        if n * (1 - p / 100.0) >= 10:
            return p, percentile(values, p)
    return 100.0, max(values)


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------- process tree --


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(pid: int) -> tuple[str, float, float] | None:
    """(command, own CPU s, reaped-children CPU s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return comm, (utime + stime) / _CLK, (cutime + cstime) / _CLK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(root: int | None = None) -> int | None:
    """The Spark JVM: the ``java`` child of this process."""
    for pid in _children_map().get(root or os.getpid(), []):
        st = _stat(pid)
        if st and st[0] == "java":
            return pid
    return None


class CpuClock:
    """CPU seconds of this process plus the Spark JVM, at nanosecond
    resolution (``/proc`` counters tick at 10 ms, too coarse for one
    commit): cheap enough to read around every operation. Python workers
    come and go, so they are counted per pass only."""

    def __init__(self) -> None:
        pid = jvm_pid()
        # Linux's process CPU clock of another process: (~pid << 3) | CPUCLOCK_SCHED
        self.jvm_clock = ((~pid) << 3) | 2 if pid else None

    def __call__(self) -> float:
        jvm = time.clock_gettime(self.jvm_clock) if self.jvm_clock is not None else 0.0
        return time.process_time() + jvm


@dataclass
class TreeSample:
    driver_s: float
    jvm_s: float
    pyworker_s: float
    hwm_mb: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s


def sample_tree(root: int | None = None) -> TreeSample:
    """CPU seconds by role and summed peak RSS of the benchmark's process tree.

    The driver is this process; the JVM is its ``java`` child; everything
    below the JVM is a Python worker (the daemon plus its forked workers,
    whose reaped CPU lands in the daemon's child counters)."""
    root = root or os.getpid()
    driver = jvm = workers = 0.0
    hwm = 0
    kids = _children_map()
    own = _stat(root)
    if own:
        driver = own[1]
    hwm += _hwm_kb(root)
    todo = [(p, "jvm") for p in kids.get(root, [])]
    while todo:
        pid, role = todo.pop()
        st = _stat(pid)
        if st is None:
            continue
        comm, cpu, reaped = st
        if role == "jvm" and comm != "java":
            role = "worker"  # a non-JVM child (e.g. a launcher shell)
        if role == "jvm":
            jvm += cpu + reaped  # reaped: the launcher JVM that spark-submit ran first
        else:
            workers += cpu + reaped
        hwm += _hwm_kb(pid)
        todo.extend((c, "worker") for c in kids.get(pid, []))
    return TreeSample(driver, jvm, workers, hwm / 1024.0)


# ------------------------------------------------------------ accounting --


@dataclass
class OpRecord:
    pass_no: int
    kind: str  # "write" or "read"
    name: str
    ms: float
    cpu_ms: float
    ok: bool


@dataclass
class PassRecord:
    pass_no: int
    traced: bool
    wall_s: float
    cpu: TreeSample
    files: int
    stored_bytes: int
    live_rows: int
    counts: dict[str, float] = field(default_factory=dict)


class Run:
    """Accounting for one benchmark run: operations, failures, passes."""

    def __init__(self, cpu_clock: Callable[[], float]) -> None:
        self.cpu_clock = cpu_clock
        self.ops: list[OpRecord] = []
        self.passes: list[PassRecord] = []
        self.pass_no = 0
        self.tracer = None  # set while a pass is traced
        self.pass_failures = 0  # passes that raised outside any operation

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.pass_failures

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + self.pass_failures

    def op(
        self,
        kind: str,
        layer: str,
        name: str,
        call: Callable[[], Any],
        check: Callable[[Any], None] | None = None,
    ) -> Any:
        """Run one operation: time ``call`` (which must drain its result),
        then verify it with ``check``. An exception or a failed check counts
        as one failed operation and returns None; the run goes on."""
        tracer = self.tracer
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            if tracer is not None:
                with tracer.span(layer, name, op=True):
                    out = call()
            else:
                out = call()
        except Exception:
            ok = False
            print(f"[lakebench] pass {self.pass_no} {name}: operation raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        ms = (time.perf_counter() - t0) * 1000.0
        cpu_ms = (self.cpu_clock() - c0) * 1000.0
        if ok and check is not None:
            try:
                check(out)
            except Exception as exc:  # a check is outside input: any error fails the op
                ok = False
                print(f"[lakebench] pass {self.pass_no} {name}: check failed: {exc}", file=sys.stderr)
        self.ops.append(OpRecord(self.pass_no, kind, name, ms, cpu_ms, ok))
        return out if ok else None

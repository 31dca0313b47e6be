"""Measurement helpers for the benchmark: timing statistics, spans,
host facts and process-tree memory.

Nothing here imports Spark, so the helpers are unit-testable on their own
(``python -m pytest perfbench``).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field


# -- statistics ------------------------------------------------------------


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail_percentile(values, min_beyond: int = 10):
    """The highest percentile that still has at least ``min_beyond``
    samples strictly above it, as ``(value, percentile, n_samples)``.

    With ``n`` sorted samples, the sample at 0-based rank ``n - 1 -
    min_beyond`` has exactly ``min_beyond`` samples beyond it; its
    percentile is the share of samples at or below it. Fewer than
    ``min_beyond + 1`` samples have no such percentile: ``ValueError``.
    """
    vals = sorted(values)
    n = len(vals)
    if n < min_beyond + 1:
        raise ValueError(
            f"a tail percentile with {min_beyond} samples beyond it needs "
            f"at least {min_beyond + 1} samples, got {n}"
        )
    rank = n - 1 - min_beyond
    return float(vals[rank]), 100.0 * (rank + 1) / n, n


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    vals = list(values)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``
    (negative when it is better)."""
    if better == "lower":
        return (new - base) / base
    if better == "higher":
        return (base - new) / base
    raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")


def within_bound(base_runs, new_runs, bound: float, better: str) -> bool:
    """True when the median of ``new_runs`` is not worse than the median
    of ``base_runs`` by more than ``bound`` (a share of the base median)."""
    return worse_by(median(base_runs), median(new_runs), better) <= bound


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start_ns: int
    end_ns: int = 0


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer records nothing; ``span`` then costs one branch.
    Spans are only written out by ``to_records`` at the end of a run.
    """

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sp = Span(
            len(self.spans),
            name,
            self._stack[-1] if self._stack else None,
            time.perf_counter_ns(),
        )
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end_ns = time.perf_counter_ns()

    def to_records(self) -> list[dict]:
        return [sp.__dict__.copy() for sp in self.spans]


def _covered_ns(intervals) -> int:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, list[float]]:
    """Seconds of self time of every span, grouped by span name: a
    span's duration minus the part of its interval that its child spans
    cover."""
    children: dict[int, list[tuple[int, int]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start_ns, sp.end_ns))
    out: dict[str, list[float]] = {}
    for sp in spans:
        kids = [
            (max(s, sp.start_ns), min(e, sp.end_ns))
            for s, e in children.get(sp.span_id, [])
            if e > sp.start_ns and s < sp.end_ns
        ]
        own = (sp.end_ns - sp.start_ns) - _covered_ns(kids)
        out.setdefault(sp.name, []).append(own / 1e9)
    return out


# -- host facts ------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    vals = [int(v) for v in fields[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe_ms(repeats: int = 21) -> float:
    """Median milliseconds of a fixed single-threaded Python loop: a
    reading of how fast one CPU of the host runs at this moment."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(20_000):
            acc ^= i * 2654435761 & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(times)


class HostRecord:
    """CPU affinity, online CPUs, steal share and load average over the
    run (deltas of /proc readings taken at start and finish), and the
    single-CPU speed probe at both ends."""

    def __init__(self):
        self.affinity = len(os.sched_getaffinity(0))
        self.online_cpus = os.cpu_count() or 0
        self._t0, self._s0 = _cpu_times()
        self._load0 = _loadavg()
        self._probe0 = cpu_probe_ms()

    def finish(self) -> dict:
        t1, s1 = _cpu_times()
        dt = t1 - self._t0
        return {
            "affinity_cpus": self.affinity,
            "online_cpus": self.online_cpus,
            "steal_pct": 100.0 * (s1 - self._s0) / dt if dt else 0.0,
            "loadavg_start": self._load0,
            "loadavg_end": _loadavg(),
            "cpu_probe_ms_start": self._probe0,
            "cpu_probe_ms_end": cpu_probe_ms(),
        }


def check_cores(requested: int, affinity: int) -> None:
    """Refuse a core count the process may not run on."""
    if requested < 1:
        raise ValueError(f"--cores must be at least 1, got {requested}")
    if requested > affinity:
        raise ValueError(
            f"--cores {requested} exceeds the {affinity} CPUs this process "
            "may run on (os.sched_getaffinity); a result labelled with more "
            "cores than the host grants would be mislabelled"
        )


# -- memory ----------------------------------------------------------------


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
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    kids = _children_map()
    total = 0
    todo = [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Peak of the process tree's RSS over the calls to ``sample``.

    Sampling happens between operations, never on a background thread,
    so that reading /proc cannot stall a timed call."""

    def __init__(self):
        self.peak = 0

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

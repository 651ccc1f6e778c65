"""Spans, host-window evidence, process-tree RSS and Spark stage
counters for the benchmark.

Everything here is measured from the benchmark's side of the calls it
makes into ``webfilter``: a span is opened around a public function
call, never inside the program.  The host probes are imported from the
repository's ``bench.py`` (not copied) so every bench script reads the
window the same way.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import bench  # repository root: host-window probes shared by every bench


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None  # spans of one operation share this id
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; written out once when the run ends.

    A disabled tracer records nothing, so the untraced run pays only
    the cost of entering a context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), parent=parent, op=op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: duration minus its children's durations (children
        of one parent run one after another)."""
        out = [s.duration for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                **asdict(s),
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "self_s": round(st, 6),
            }
            for s, st in zip(self.spans, self.self_times())
        ]


# ---------------------------------------------------------------- host


def _descendants() -> list[int]:
    """pids of every live descendant of this process (the JVM and the
    Python workers it forks)."""
    ppid: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
            ppid[int(d)] = int(s[s.rindex(")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_rss_mb() -> float:
    """Summed resident set of the JVM and Python workers, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in _descendants():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total / 2**20


class RssSampler:
    """Background sampler of tree_rss_mb(); ``peak()`` is the largest
    reading since the last ``reset()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            v = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, v)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb()

    def peak(self) -> float:
        v = tree_rss_mb()
        with self._lock:
            self._peak = max(self._peak, v)
            return self._peak


@contextmanager
def host_window(cores: int, record: dict):
    """Host evidence next to one operation: memory bandwidth and
    loadavg before it; steal, and the CPU-seconds this process tree
    used (also as own_util, a share of wall x cores), across it.
    Recorded, never used to gate or discard a run."""
    record["mem_bw_gbps"] = bench._mem_bw_gbps(64)
    record["loadavg"] = os.getloadavg()[0]
    st0, cpu0, t0 = bench._proc_stat(), bench._subtree_cpu_s(), time.perf_counter()
    yield
    wall = time.perf_counter() - t0
    st1, cpu1 = bench._proc_stat(), bench._subtree_cpu_s()
    record["steal_frac"] = bench._stat_fracs(st0, st1).get("steal_frac")
    if cpu0 is not None and cpu1 is not None and wall > 0:
        record["cpu_s"] = cpu1 - cpu0
        record["own_util"] = (cpu1 - cpu0) / (wall * cores)


# ------------------------------------------------------------- spark


def stage_counters(spark, after_stage: int) -> dict:
    """Summed task counters of every stage with id > ``after_stage``,
    read from the live application status store (kept with the UI
    off).  Returns the new high-water stage id too."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    acc = {
        "max_stage": after_stage,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "output_bytes": 0,
        "input_bytes": 0,
    }
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid <= after_stage:
            continue
        acc["max_stage"] = max(acc["max_stage"], sid)
        acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
        acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        acc["output_bytes"] += s.outputBytes()
        acc["input_bytes"] += s.inputBytes()
    return acc


def last_stage(spark) -> int:
    return stage_counters(spark, -1)["max_stage"]


def plan_metrics(df) -> dict:
    """Execute ``df``'s physical plan once and sum its SQL metrics with
    the shuffle audit's plan walker."""
    from jobs.audit_shuffle import _walk_metrics

    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    acc = {
        "n_shuffles": 0,
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "n_broadcasts": 0,
        "broadcast_bytes": 0,
        "scan_rows": 0,
        "cached_scan_rows": 0,
        "n_reused_exchanges": 0,
    }
    _walk_metrics(plan, acc, [])
    return acc


def force(df) -> float:
    """Wall seconds to compute every column of ``df`` (noop sink)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0

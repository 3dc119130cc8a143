"""In-memory spans, latency statistics and a /proc peak-RSS sampler.

Spans are recorded by the benchmark around its own calls into each layer
of the package; nothing inside the package is instrumented.  A span keeps
its name, start, end, parent and request id, stays in memory and is
written out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    rid: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  When ``enabled`` is false, ``span`` yields None and
    records nothing, so the untraced path pays one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.rid = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.rid, parent, time.perf_counter(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        are merged first, so overlapping children are not subtracted
        twice)."""
        ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                     for c in self.children(span.sid))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": self.self_time(s)},
                                   default=str))
                f.write("\n")


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile p (in steps of 0.1) with at least ``beyond``
    of ``n`` samples strictly above the p-th percentile's rank, or None
    when ``n`` is too small for any."""
    if n <= beyond:
        return None
    p = 100.0 * (n - beyond) / n
    return max(0.0, int(p * 10) / 10.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    samples at or below it."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * p // 100))
    return xs[int(k) - 1]


def samples_beyond(values: list[float], p: float) -> int:
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """(latency at the tail percentile, the percentile, samples beyond)."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    # ties at the cut can leave fewer than `beyond` samples strictly
    # above it; step down until the guarantee holds
    while p > 0 and samples_beyond(values, p) < beyond:
        p = round(p - 0.1, 1)
    return percentile(values, p), p, samples_beyond(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # pid (comm) state ppid ... ; comm may contain spaces
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Samples the summed VmRSS of this process and all its descendants
    (the JVM and its Python workers) from /proc every ``interval`` s and
    keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        kb = _rss_kb(me) + sum(_rss_kb(p) for p in _descendants(me))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

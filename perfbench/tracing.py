"""In-memory spans recorded from outside the engine.

The tracer replaces names that ``plans.driver`` and ``plans.frontier`` look
up at call time (``run_round``, ``global_rank``, the checkpoint commit and
read functions, the bloom builders, ``virtual_schedule``,
``fused_documents``) with wrappers that record a span around each call, and
puts the originals back on ``uninstall``. Spark is lazy, so a span holds the
jobs its call triggers, not the plan it describes: ``virtual_schedule``
returns at once and its shuffles run inside the next checkpoint write.

The engine writes the heavy visited delta of round N in a background thread
while round N+1 runs. That write is recorded as a background span from the
return of ``commit_round_start`` until its last write finishes, so a report
can say how much of a round's wall time it overlapped.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Dict, List, Optional, Tuple

MAIN, BACKGROUND = "main", "background"


@dataclass
class Span:
    id: int
    parent: Optional[int]
    job: str
    name: str
    layer: str
    thread: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.job = ""
        self.bloom = None  # the last seen filter a bloom builder returned
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patched: List[Tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _new(self, name: str, layer: str, thread: str, parent: Optional[int]) -> Span:
        with self._lock:
            span = Span(len(self.spans), parent, self.job, name, layer, thread,
                        time.perf_counter())
            self.spans.append(span)
        return span

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        thread = MAIN if threading.current_thread() is threading.main_thread() else BACKGROUND
        span = self._new(name, layer, thread, stack[-1] if stack else None)
        stack.append(span.id)
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            stack.pop()
        return out

    def _watch_deferred(self, commit) -> None:
        """Background span for a RoundCommit's in-flight heavy writes."""
        futures = list(getattr(commit, "_futures", []) or [])
        if not futures:
            return
        span = self._new("checkpoint.deferred_write", "checkpoint", BACKGROUND, None)
        remaining = [len(futures)]

        def done(_fut) -> None:
            with self._lock:
                remaining[0] -= 1
                if remaining[0] == 0:
                    span.end = time.perf_counter()

        for fut in futures:
            fut.add_done_callback(done)

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            out = tracer.call(name, layer, original, *args, **kwargs)
            if after is not None:
                after(out)
            return out

        wrapper.__wrapped__ = original
        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from crawl4ai_scraper_spark.plans import checkpoint, driver, frontier

        targets = [
            (driver, "run_round", "frontier.run_round", "frontier"),
            (driver, "virtual_schedule", "politeness.virtual_schedule", "politeness"),
            (driver, "commit_round", "checkpoint.commit_round", "checkpoint"),
            (driver, "read_frontier", "checkpoint.read_frontier", "checkpoint"),
            (driver, "read_enqueued", "checkpoint.read_enqueued", "checkpoint"),
            (driver, "read_state", "checkpoint.read_state", "checkpoint"),
            (driver, "read_edges", "checkpoint.read_edges", "checkpoint"),
            (driver, "reset_checkpoint", "checkpoint.reset", "checkpoint"),
            (driver, "visited_vt_max", "checkpoint.visited_vt_max", "checkpoint"),
            (driver, "frontier_rows", "checkpoint.frontier_rows", "checkpoint"),
            (driver, "add_to_bloom", "bloom.add", "bloom"),
            (driver, "fused_documents", "driver.fused_documents", "driver"),
            (driver, "extract_pass", "driver.extract_pass", "driver"),
            (frontier, "global_rank", "ranking.global_rank", "ranking"),
            (frontier, "might_contain_col", "bloom.probe_plan", "bloom"),
            (checkpoint.RoundCommit, "finalize", "checkpoint.finalize", "checkpoint"),
        ]
        for owner, attr, name, layer in targets:
            self._patch(owner, attr, name, layer)
        for attr in ("build_bloom", "build_sharded_bloom", "build_sharded_cuckoo"):
            self._patch(driver, attr, "bloom.build", "bloom",
                        after=lambda out: setattr(self, "bloom", out))
        self._patch(driver, "commit_round_start", "checkpoint.commit_round_start",
                    "checkpoint", after=self._watch_deferred)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


# -- analysis ----------------------------------------------------------------
def _union_len(intervals: List[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def _overlap(a: Tuple[float, float], spans: List[Span]) -> float:
    clipped = [(max(a[0], s.start), min(a[1], s.end)) for s in spans]
    return _union_len([(s, e) for s, e in clipped if e > s])


def job_report(spans: List[Span], job: str) -> Dict[str, float]:
    """Per-layer self time, round walls and deferred-write overlap of one
    job. Self time is a span's duration minus the part its child spans
    cover; layer shares are over the main thread, which blocks the result."""
    mine = [s for s in spans if s.job == job]
    main = [s for s in mine if s.thread == MAIN]
    kids: Dict[int, List[Span]] = {}
    for s in main:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    self_s: Dict[str, float] = {}
    for s in main:
        covered = _union_len([(c.start, c.end) for c in kids.get(s.id, [])])
        self_s[s.layer] = self_s.get(s.layer, 0.0) + s.dur - covered

    def total(name: str) -> float:
        return sum(s.dur for s in main if s.name == name)

    roots = [s for s in main if s.parent is None and s.layer == "driver" and s.name == "driver.run_crawl"]
    rounds = sorted((s for s in main if s.name == "frontier.run_round"), key=lambda s: s.start)
    commits = sorted((s for s in main if s.name == "checkpoint.commit_round_start"),
                     key=lambda s: s.start)
    round_walls: List[float] = []
    for i, r in enumerate(rounds):
        if i + 1 < len(rounds) and rounds[i + 1].start < _root_end(roots, r):
            round_walls.append(rounds[i + 1].start - r.start)
        else:
            after = [c for c in commits if c.start >= r.end]
            if after:
                round_walls.append(after[0].end - r.start)
    tails = []
    for root in roots:
        inside = [c for c in commits if root.start <= c.start <= root.end]
        tails.append(root.end - (inside[-1].end if inside else root.start))
    deferred = [s for s in mine if s.name == "checkpoint.deferred_write" and s.end > 0]
    deferred_s = sum(s.dur for s in deferred)
    overlapped = sum(_overlap((d.start, d.end), rounds) for d in deferred)
    out = {f"self.{k}_s": v for k, v in self_s.items()}
    out.update({
        "rounds": float(len(rounds)),
        "round_walls": round_walls,
        "tail_s": sum(tails),
        "run_round_s": total("frontier.run_round"),
        "global_rank_s": total("ranking.global_rank"),
        "schedule_s": total("politeness.virtual_schedule"),
        "commit_s": total("checkpoint.commit_round_start") + total("checkpoint.commit_round")
        + total("checkpoint.finalize"),
        "read_s": sum(s.dur for s in main if s.name.startswith("checkpoint.read_")),
        "bloom_build_s": total("bloom.build"),
        "bloom_add_s": total("bloom.add"),
        "deferred_write_s": deferred_s,
        "deferred_overlap_s": overlapped,
        "job_s": sum(r.dur for r in roots),
        "spans": float(len(mine)),
    })
    return out


def call_overhead_s(n: int = 20000) -> float:
    """Seconds that recording one span adds to a call: ``Tracer.call``
    around a no-op, against the bare no-op."""
    probe = Tracer()

    def noop():
        return None

    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        probe.call("probe", "probe", noop)
    return max(0.0, (time.perf_counter() - t0 - bare) / n)


def _root_end(roots: List[Span], span: Span) -> float:
    for r in roots:
        if r.start <= span.start <= r.end:
            return r.end
    return float("inf")

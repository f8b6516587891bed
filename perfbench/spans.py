"""Spans around the benchmark's calls into the program, kept in memory.

A span records layer, public call, start, end and the span that caused
it. A layer's self time is its spans' durations minus the part covered
by their child spans. Spans opened with ``jobs=True`` also put the
calling thread's Spark jobs into a job group of their own and count the
jobs, stages and tasks that group ran, read from ``statusTracker()``.

A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self._groups = 0  # job group names stay unique across resets
        self.reset()

    def reset(self) -> None:
        """Forget everything recorded so far (the set-up's cold calls)."""
        self.self_s: dict[str, float] = defaultdict(float)  # layer -> self seconds
        self.call_s: dict[str, float] = defaultdict(float)  # call -> self seconds
        self.spark: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])  # call -> jobs, stages, tasks
        self.spark_calls: dict[str, int] = defaultdict(int)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, call: str, jobs: bool = True):
        """Time ``call`` into ``layer``. Nested spans are charged to their
        parent's covered time. Spans are strictly nested: a span opened
        from a callback thread while the main thread waits inside its
        parent is still a child of that parent."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"child": 0.0, "group": None}
        if jobs:
            self._groups += 1
            rec["group"] = f"perfbench-{self._groups}"
            self.sc.setJobGroup(rec["group"], call)
        self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - start
            self._stack.pop()
            own = dur - rec["child"]
            self.self_s[layer] += own
            self.call_s[call] += own
            if parent is not None:
                parent["child"] += dur
            if jobs:
                self._count_jobs(call, rec["group"])
                outer = next((r["group"] for r in reversed(self._stack) if r["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc._jsc.clearJobGroup()

    def _count_jobs(self, call: str, group: str) -> None:
        st = self.sc.statusTracker()
        acc = self.spark[call]
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            acc[0] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                acc[1] += 1
                acc[2] += stage.numTasks if stage is not None else 0
        self.spark_calls[call] += 1

    @contextmanager
    def jobs_only(self, call: str):
        """Count ``call``'s Spark jobs without timing it into a layer (the
        untraced unit of each pair in a traced run)."""
        if not self.enabled:
            yield
            return
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, call)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()
            self._count_jobs(call, group)

    def count_group(self, call: str, group: str, n_calls: int) -> None:
        """Charge the jobs of an existing job group (a streaming query
        runs its micro-batches under its run id) to ``n_calls`` calls."""
        if not self.enabled or n_calls <= 0:
            return
        self._count_jobs(call, group)
        self.spark_calls[call] += n_calls - 1

    def spark_per_call(self, call: str) -> tuple[float, float, float]:
        n = self.spark_calls.get(call, 0)
        if not n:
            return 0.0, 0.0, 0.0
        j, s, t = self.spark[call]
        return j / n, s / n, t / n

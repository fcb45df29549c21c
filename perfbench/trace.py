"""In-memory spans recorded around calls into the library's modules.

The traced run replaces module attributes with timing wrappers at the
place each name is looked up: ``lindel_spark.write`` binds the encode
factories at import, so they are wrapped there; ``profile`` and ``fs``
functions are looked up on their own modules at call time. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from perfbench.stats import covered


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Span recorder. ``op`` is the id of the benchmark op in flight;
    spans opened while it is set carry it."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def call(self, name: str, fn, *args, **kwargs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span
        called ``name`` around each call; :meth:`unwrap` restores it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.id]
        return (span.end - span.start) - covered(kids)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def calls_per_op(self, prefix: str, ops: set[int]) -> dict[str, float]:
        """Mean calls per op in ``ops`` of every span name under
        ``prefix``."""
        counts: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s.name.startswith(prefix) and s.op in ops:
                counts[s.name] += 1
        return {k: v / len(ops) for k, v in sorted(counts.items())}

    def seconds_per_op(self, prefix: str, ops: set[int]) -> float:
        """Mean seconds per op in ``ops`` covered by spans under
        ``prefix`` (a span nested in another of the prefix counts once)."""
        ivs = [(s.start, s.end) for s in self.spans
               if s.name.startswith(prefix) and s.op in ops]
        return covered(ivs) / len(ops)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


FS_FUNCS = ("exists", "is_dir", "read_text", "commit_new",
            "committed_versions", "list_names", "list_files", "du_suffix",
            "delete")


def wrap_library(tracer: Tracer) -> None:
    """Wrap the library entry points the benchmark's ops reach."""
    from lindel_spark import fs, functions, profile, write

    for attr in ("hilbert_encode", "morton_encode", "morton_encode_native"):
        tracer.wrap(write, attr, f"functions.{attr}")
    for attr in ("hilbert_encode", "morton_encode", "morton_encode_native",
                 "hilbert_decode"):
        tracer.wrap(functions, attr, f"functions.{attr}")
    for attr in ("zorder_store_select", "zorder_store_lookup"):
        tracer.wrap(write, attr, f"write.{attr}")
    for attr in ("minmax_survivor_stats", "bloom_survivors"):
        tracer.wrap(profile, attr, f"profile.{attr}")
    for attr in FS_FUNCS:
        tracer.wrap(fs, attr, f"fs.{attr}")


def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """Spark jobs and tasks run under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks

"""What every workload shares: the run context, the timed loop, input
set-up with a repeated-median timer, and the metrics both workloads
report."""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

from perfbench.harness import OpLog
from perfbench.stats import slot_weighted
from perfbench.trace import FS_FUNCS, Tracer, wrap_library

INPUT_REPEATS = 3   # input generation is timed this many times; median


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str            # scratch dir, removed when the run ends
    out: str             # where the traced run leaves its spans
    setup_parts: dict = field(default_factory=dict)

    def path(self, *names: str) -> str:
        return os.path.join(self.work, *names)


def timed_input(ctx: Context, make):
    """Run ``make(dir)`` INPUT_REPEATS times into fresh dirs; keep the
    first result and record the median time as the ``input`` part of
    set-up."""
    times = []
    first = None
    for i in range(INPUT_REPEATS):
        t0 = time.perf_counter()
        res = make(ctx.path(f"input-{i}"))
        times.append(time.perf_counter() - t0)
        if first is None:
            first = res
    ctx.setup_parts["input_s"] = statistics.median(times)
    return first


def timed_part(ctx: Context, name: str, fn):
    t0 = time.perf_counter()
    res = fn()
    ctx.setup_parts[name] = time.perf_counter() - t0
    return res


def loop_until(deadline: float, cycle) -> int:
    """Run whole cycles until ``deadline``; the cycle in progress when
    it passes is finished, so every cycle keeps the full op mix."""
    n = 0
    while time.perf_counter() < deadline:
        cycle()
        n += 1
    return n


class Windows:
    """The untraced ops and, in a traced run, the traced ones. A traced
    run alternates untraced and traced cycles, so drift in host speed
    falls on both sides of the overhead comparison."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.untraced = OpLog(ctx.spark)
        self.tracer = Tracer() if ctx.trace else None
        self.traced = OpLog(ctx.spark, self.tracer) if ctx.trace else None
        self.cycles = {"untraced": 0, "traced": 0}

    def run(self, cycle_for) -> None:
        """``cycle_for(log)`` returns the function running one cycle of
        ops through ``log``; whole cycles run until the deadline."""
        plain = cycle_for(self.untraced)
        if not self.ctx.trace:
            self.cycles["untraced"] = loop_until(
                time.perf_counter() + self.ctx.seconds, plain)
            return
        traced = cycle_for(self.traced)

        def traced_cycle():
            wrap_library(self.tracer)
            try:
                traced()
            finally:
                self.tracer.unwrap()

        pairs = itertools.cycle([(plain, traced_cycle), (traced_cycle, plain)])

        def pair():
            # which side goes first alternates, so a warm-up trend
            # inside the run does not land on one side
            for cycle in next(pairs):
                cycle()

        n = loop_until(time.perf_counter() + self.ctx.seconds, pair)
        self.cycles = {"untraced": n, "traced": n}

    def all_ops(self):
        return self.untraced.ops + (self.traced.ops if self.traced else [])

    def dump_spans(self, workload: str) -> None:
        os.makedirs(self.ctx.out, exist_ok=True)
        self.tracer.dump(os.path.join(
            self.ctx.out, f"spans-{workload}-seed{self.ctx.seed}.jsonl"))


def op_latency_ms(log: OpLog, slots) -> float | None:
    """Latency of one op of the workload's mix: each op kind's median,
    weighted by the kind's slots in ``slots``."""
    per_kind = {k: [s * 1e3 for s in log.seconds(k)] for k in set(slots)}
    return slot_weighted(per_kind, slots)


@functools.cache
def _footer_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def scan_of(df) -> tuple[int, int]:
    """Bytes and rows of the files ``df`` reads (``df.inputFiles()``);
    row counts come from the parquet footers, read once per file."""
    files = [local_path(f) for f in df.inputFiles()]
    return (sum(os.path.getsize(f) for f in files),
            sum(_footer_rows(f) for f in files))


def arrow_eval_nodes(df) -> int:
    """``ArrowEvalPython`` nodes (Python UDF evaluations) in the plan."""
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython")


PRUNE_COUNTS = ("files_total", "files_scanned", "tail_files_total",
                "tail_files_scanned")


def layer_per_op(tracer: Tracer, ops) -> dict:
    """The per-layer metrics both workloads report, per traced op. A
    layer the workload does not reach reads 0: that is the figure a
    change to that layer should leave alone. Ops record in ``info``
    the store's pruning ``stats`` (reads only), ``rows`` returned,
    ``rows_scanned`` and ``arrow_nodes``."""
    ops = list(ops)
    n = len(ops)
    ids = {o.id for o in ops}
    calls = tracer.calls_per_op("fs.", ids)
    write_self = sum(tracer.self_time(s) for s in tracer.spans
                     if s.name.startswith("write.") and s.op in ids)
    scanned = sum(o.info.get("rows_scanned", 0) for o in ops)
    out = {
        "functions.bind_ms_per_op":
            tracer.seconds_per_op("functions.", ids) * 1e3,
        "functions.arrow_eval_nodes_per_op":
            sum(o.info.get("arrow_nodes", 0) for o in ops) / n,
        "write.self_ms_per_op": write_self / n * 1e3,
        "profile.ms_per_op": tracer.seconds_per_op("profile.", ids) * 1e3,
        "profile.rows_returned_per_row_scanned":
            sum(o.info.get("rows", 0) for o in ops) / scanned
            if scanned else None,
        "fs.ms_per_op": tracer.seconds_per_op("fs.", ids) * 1e3,
        "spark.jobs_per_op": sum(o.jobs for o in ops) / n,
        "spark.tasks_per_op": sum(o.tasks for o in ops) / n,
    }
    for k in PRUNE_COUNTS:
        out[f"profile.{k}_per_op"] = sum(
            o.info.get("stats", {}).get(k, 0) for o in ops) / n
    for f in FS_FUNCS:
        out[f"fs.calls_per_op.{f}"] = calls.get(f"fs.{f}", 0.0)
    return out


def trace_overhead_pct(untraced_ms, traced_ms) -> float | None:
    """How much slower the traced side ran, in percent."""
    if not untraced_ms or not traced_ms:
        return None
    return (traced_ms / untraced_ms - 1) * 100


CURVE_REPS = 5


def curve_ns_per_row(table, rows: int) -> dict:
    """The curve kernels called directly in-process on one input
    split's rows (``px``/``py`` int32 and ``lon``/``lat`` float64, two
    dimensions). In a Spark job they run inside Python workers, out of
    reach of driver spans."""
    from lindel_spark import curve

    t = table.slice(0, rows)
    X = np.ascontiguousarray(np.column_stack(
        [t.column("px").to_numpy(), t.column("py").to_numpy()]))
    U = curve.bitcast_to_unsigned(X, 32)
    hi, lo = curve.hilbert_encode_batch(U, 32)
    L = np.ascontiguousarray(np.column_stack(
        [t.column("lon").to_numpy(), t.column("lat").to_numpy()]))
    fhi, flo = curve.hilbert_encode_batch(curve.bitcast_to_unsigned(L, 64), 64)
    calls = {
        "hilbert_encode_batch": lambda: curve.hilbert_encode_batch(U, 32),
        "morton_encode_batch": lambda: curve.morton_encode_batch(U, 32),
        "hilbert_decode_batch": lambda: curve.hilbert_decode_batch(
            hi, lo, 2, 32),
        "bitcast_to_unsigned": lambda: curve.bitcast_to_unsigned(L, 64),
        "lanes_to_bytes": lambda: curve.lanes_to_bytes(fhi, flo, 16),
    }
    out = {}
    for name, fn in calls.items():
        times = []
        for _ in range(CURVE_REPS):
            t0 = time.perf_counter_ns()
            fn()
            times.append(time.perf_counter_ns() - t0)
        out[f"curve.{name}_ns_per_row"] = statistics.median(times) / rows
    return out


def local_path(uri: str) -> str:
    """A ``file:`` URI as a plain path (other strings pass through)."""
    return urlparse(uri).path if uri.startswith("file:") else uri

"""range_query: pruned reads against a store with a fixed tail.

Set-up builds one store: ``zorder_store_init`` over 80% of the rows,
then two appends of 10% each that are never maintained, so every read
also consults the tail's manifests. The read mix cycles 2-D boxes on
(px, py) at about 0.1%, 1% and 10% selectivity, a select on the
non-indexed ``fare`` (no file can be pruned), and ``zorder_store_lookup``
point probes on trip_ids in the store. No key is encoded: the time goes
to driver metadata work (fs listings, manifest collects, survivor
jobs) plus a small scan.
"""

from __future__ import annotations

import collections
import os
import statistics

from perfbench import inputs
from perfbench.common import (Context, Windows, arrow_eval_nodes,
                              curve_ns_per_row, layer_per_op, op_latency_ms,
                              scan_of, timed_input, timed_part,
                              trace_overhead_pct)
from perfbench.stats import slot_weighted, summarize

# Reads are metadata-bound: the store's file count, not its row count,
# sets their work, and a smaller table keeps the cold store build short.
ROWS = 100_000
BASE_SHARE = 0.8
BASE_FILES = 4
APPENDS = 2
NUM_FILES = 8
CYCLES = 8      # precomputed read cycles; the loop wraps around them
CURVE_COLS = ["px", "py"]
STORE_KW = {"stat_cols": ["px", "py"], "bloom_cols": ["trip_id"]}
# the op kind of each slot of the read cycle
OP_SLOTS = tuple("lookup" if k == "lookup" else "select"
                 for k in inputs.READ_CYCLE)


def make_input(d: str, seed: int):
    """The generated table and its parquet files: the base slice and
    one slice per append."""
    t = inputs.make_trips(ROWS, seed)
    n_base = int(ROWS * BASE_SHARE)
    base = inputs.write_parquet(t.slice(0, n_base), os.path.join(d, "base"),
                                BASE_FILES)
    step = (ROWS - n_base) // APPENDS
    tails = [inputs.write_parquet(
        t.slice(n_base + j * step,
                step if j < APPENDS - 1 else ROWS - n_base - j * step),
        os.path.join(d, f"tail-{j}"), 1) for j in range(APPENDS)]
    return t, base, tails


def read_check(r: inputs.Read):
    """Check of one read's (df, stats, row) result against the
    brute-force answer computed in set-up. Every read of the mix
    matches at least one row, so a null id sum is always wrong."""
    def check(res):
        got = (res[2]["n"], res[2]["s"])
        return None if got == (r.rows, r.id_sum) else (
            f"{r.kind} {r.ranges or r.probe}: (rows, id sum) {got} "
            f"!= brute force {(r.rows, r.id_sum)}")
    return check


def run(ctx: Context) -> dict:
    from pyspark.sql import functions as F

    from lindel_spark import write as W

    spark = ctx.spark
    table, base, tails = timed_input(ctx, lambda d: make_input(d, ctx.seed))
    # brute-force answers: off the clock and outside setup_s
    reads = inputs.make_reads(table, CYCLES, ctx.seed + 1)
    path = ctx.path("store")

    def build():
        W.zorder_store_init(spark.read.parquet(*base.paths), CURVE_COLS,
                            path, num_files=NUM_FILES, **STORE_KW)
        for t in tails:
            W.zorder_store_append(spark.read.parquet(*t.paths), path)

    timed_part(ctx, "prepare_s", build)
    w = Windows(ctx)
    named: dict[str, list[int]] = {}   # read kind -> bytes read per read

    def read_op(log, r: inputs.Read) -> None:
        def fn():
            if r.probe is None:
                df, stats = W.zorder_store_select(spark, path, r.ranges)
            else:
                df, stats = W.zorder_store_lookup(spark, path, "trip_id",
                                                  r.probe)
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("trip_id").alias("s")).first()
            return df, stats, row

        info = {"kind": r.kind}
        res = log.run("lookup" if r.probe is not None else "select", fn,
                      read_check(r), info)
        if res is not None:
            info["bytes"], info["rows_scanned"] = scan_of(res[0])
            info["rows"] = res[2]["n"]
            info["stats"] = res[1]
            named.setdefault(r.kind, []).append(info["bytes"])
            if log is w.traced:
                info["arrow_nodes"] = arrow_eval_nodes(res[0])

    def warm_up():
        # the last precomputed cycle off the clock (the loop starts at
        # the first): the first read of each plan shape pays JIT, codegen
        # and class loading, and the next few still run slower
        w.untraced.timed = False
        for r in reads[-len(inputs.READ_CYCLE):]:
            read_op(w.untraced, r)
        w.untraced.timed = True

    timed_part(ctx, "warmup_s", warm_up)
    # each log walks the reads on its own, so in a traced run both
    # sides run the same reads and the overhead compares like with like
    pos: dict = collections.defaultdict(int)

    def cycle_for(log):
        # half a read cycle: selects and lookups alternate, and the
        # select kinds rotate over two halves
        def half_cycle():
            for _ in range(len(inputs.READ_CYCLE) // 2):
                read_op(log, reads[pos[id(log)] % len(reads)])
                pos[id(log)] += 1
        return half_cycle

    w.run(cycle_for)

    op_ms = op_latency_ms(w.untraced, OP_SLOTS)
    metrics = {
        "op_latency_ms": op_ms,
        "scanned_bytes_per_op": slot_weighted(named, inputs.READ_CYCLE,
                                              statistics.mean),
    }
    samples = {"ops": len(w.untraced.of("select", "lookup")),
               "cycles": w.cycles["untraced"]}
    splits = spark.read.parquet(*base.paths).rdd.getNumPartitions()
    layer = {}
    if ctx.trace:
        treads = w.traced.of("select", "lookup")
        layer["trace.overhead_pct"] = trace_overhead_pct(
            op_ms, op_latency_ms(w.traced, OP_SLOTS))
        layer.update(layer_per_op(w.tracer, treads))
        layer.update(curve_ns_per_row(table, ROWS // splits))
        samples["traced_ops"] = len(treads)
        w.dump_spans("range_query")

    def ms(kind):
        return [s * 1e3 for s in w.untraced.seconds(kind)]

    summaries = {"select_ms": summarize(ms("select")),
                 "lookup_ms": summarize(ms("lookup")),
                 "read_ms": summarize(ms("select") + ms("lookup"))}
    return {"ops": w.all_ops(), "metrics": metrics, "layer": layer,
            "samples": samples, "summaries": summaries,
            "input": {"rows": ROWS,
                      "bytes": base.bytes + sum(t.bytes for t in tails),
                      "splits": splits}}

"""encode_mix: back-to-back curve-key jobs over the trips table.

One op builds a key Column through the public ``functions`` API, runs
it over every input row and reduces the keys to an order-independent
checksum in the JVM (two long sums, or a CRC sum for binary keys). The
reduction is whole-stage-codegen work, small next to the key itself,
and it is what lets every op's output be checked against the NumPy
reference computed in set-up. ``write``, ``profile`` and ``fs`` do no
work here, so a kernel or Arrow-plumbing change shows up undiluted.
"""

from __future__ import annotations

import statistics
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import inputs
from perfbench.common import (Context, Windows, arrow_eval_nodes,
                              curve_ns_per_row, layer_per_op, op_latency_ms,
                              scan_of, timed_input, timed_part,
                              trace_overhead_pct)
from perfbench.harness import nproc
from perfbench.stats import slot_weighted, summarize

ROWS = 1_000_000   # a warm hilbert_encode int32x2 job: >= 1 s on 4 cores
FILES = 8
KINDS = ("hilbert_i32", "hilbert_f64", "morton_native", "roundtrip")
GOLDENS = (22, 29, 2303654869236839926)


def roundtrip_mismatch(decoded, px, py):
    """True where the decoded pair differs from (px, py). A null decode
    counts as a mismatch: a plain ``!=`` would be null there, and
    ``sum`` skips nulls."""
    return ~(decoded[0].eqNullSafe(px) & decoded[1].eqNullSafe(py))


def _frames(inp, kind: str):
    """The op's DataFrame: key Column -> one checksum row."""
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    def long_sums(k):
        return inp.select(k.alias("k")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").bitwiseAND(F.lit(0xFFFFFFFF))).alias("a"),
            F.sum(F.shiftright(F.col("k"), 32)).alias("b"))

    if kind == "hilbert_i32":
        return long_sums(LF.hilbert_encode(["px", "py"], "int32"))
    if kind == "morton_native":
        return long_sums(LF.morton_encode_native(["px", "py"], "int32"))
    if kind == "hilbert_f64":
        k = LF.hilbert_encode(["lon", "lat"], "float64")
        return inp.select(k.alias("k")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("k"))).alias("a"),
            F.lit(0).cast("long").alias("b"))
    if kind == "roundtrip":
        d = LF.hilbert_decode(LF.hilbert_encode(["px", "py"], "int32"), 2,
                              input_width=64)
        bad = roundtrip_mismatch(d, F.col("px"), F.col("py"))
        return inp.select(bad.alias("bad")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("bad").cast("long")).alias("a"),
            F.lit(0).cast("long").alias("b"))
    raise ValueError(kind)


def _chunk_checksums(table) -> dict:
    from lindel_spark import curve

    px = table.column("px").to_numpy()
    py = table.column("py").to_numpy()
    U = curve.bitcast_to_unsigned(np.ascontiguousarray(
        np.column_stack([px, py])), 32)
    n = len(px)

    def long_sums(lo):
        k = lo.view(np.int64)
        return (n, int((k & 0xFFFFFFFF).sum()), int((k >> 32).sum()))

    L = np.ascontiguousarray(np.column_stack([
        table.column("lon").to_numpy(), table.column("lat").to_numpy()]))
    fhi, flo = curve.hilbert_encode_batch(curve.bitcast_to_unsigned(L, 64), 64)
    keys = curve.lanes_to_bytes(fhi, flo, 16)
    return {"hilbert_i32": long_sums(curve.hilbert_encode_batch(U, 32)[1]),
            "morton_native": long_sums(curve.morton_encode_batch(U, 32)[1]),
            "hilbert_f64": (n, sum(zlib.crc32(r) for r in keys), 0),
            "roundtrip": (n, 0, 0)}


def expected_checksums(table, threads: int = 1) -> dict:
    """Per-kind (n, a, b) from the NumPy kernels, off the Spark path.
    The sums are additive, so row chunks run on ``threads`` threads
    (NumPy releases the GIL inside each vector op)."""
    bounds = np.linspace(0, table.num_rows, threads + 1).astype(int)
    chunks = [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
    with ThreadPoolExecutor(threads) as pool:
        parts = list(pool.map(_chunk_checksums, chunks))
    return {k: tuple(sum(p[k][i] for p in parts) for i in range(3))
            for k in parts[0]}


def check_checksum(expected):
    def check(row):
        # no sum may be null: every key kind has rows, and a null sum
        # means every key (or mismatch flag) came back null
        got = (row["n"], row["a"], row["b"])
        return None if got == tuple(expected) else (
            f"checksum {got} != expected {tuple(expected)}")
    return check


def check_goldens(row):
    got = tuple(row)
    return None if got == GOLDENS else f"goldens {got} != {GOLDENS}"


def _golden_frame(spark):
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    i8 = [F.lit(v).cast("byte") for v in (1, 2, 3)]
    f32 = [F.lit(37.8).cast("float"), F.lit(0.2).cast("float")]
    return spark.range(1).select(
        LF.hilbert_encode(i8, "int8").alias("h"),
        LF.morton_encode(i8, "int8").alias("m"),
        LF.hilbert_encode(f32, "float32").alias("f"))


def _native_vs_udf(inp):
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    native = LF.morton_encode_native(["px", "py"], "int32")
    udf = LF.morton_encode(["px", "py"], "int32")
    return inp.filter(native != udf).agg(F.count(F.lit(1)).alias("n")).first()


def run(ctx: Context) -> dict:
    spark = ctx.spark

    def make(d):
        t = inputs.make_trips(ROWS, ctx.seed)
        return t, inputs.write_parquet(t, d, FILES)

    table, files = timed_input(ctx, make)

    def prepare():
        inp = spark.read.parquet(*files.paths)
        return inp, inp.rdd.getNumPartitions()

    inp, splits = timed_part(ctx, "prepare_s", prepare)
    expected = expected_checksums(table, nproc())
    w = Windows(ctx)
    named: dict[str, list[int]] = {}   # kind -> bytes read per op

    def key_op(log, kind):
        df = None

        def fn():
            nonlocal df
            df = _frames(inp, kind)
            return df.first()

        info = {}
        row = log.run(kind, fn, check_checksum(expected[kind]), info)
        if row is not None:
            info["bytes"], info["rows_scanned"] = scan_of(df)
            info["rows"] = row["n"]
            named.setdefault(kind, []).append(info["bytes"])
            if log is w.traced:
                info["arrow_nodes"] = arrow_eval_nodes(df)

    def warm_up():
        # first op of each kind off the clock: codegen, JIT, worker spawn
        w.untraced.timed = False
        for kind in KINDS:
            key_op(w.untraced, kind)
        w.untraced.timed = True
        w.untraced.run("golden", lambda: _golden_frame(spark).first(),
                       check_goldens)
        w.untraced.run("native_vs_udf", lambda: _native_vs_udf(inp),
                       lambda r: None if r["n"] == 0 else
                       f"{r['n']} rows where native morton != UDF morton")

    timed_part(ctx, "warmup_s", warm_up)

    def cycle_for(log):
        def cycle():
            for kind in KINDS:
                key_op(log, kind)
            log.run("golden", lambda: _golden_frame(spark).first(),
                    check_goldens)
        return cycle

    w.run(cycle_for)

    op_ms = op_latency_ms(w.untraced, KINDS)
    metrics = {"op_latency_ms": op_ms,
               "scanned_bytes_per_op": slot_weighted(named, KINDS,
                                                     statistics.mean)}
    samples = {"ops": len(w.untraced.of(*KINDS)),
               "cycles": w.cycles["untraced"]}
    layer = {}
    if ctx.trace:
        tops = w.traced.of(*KINDS)
        layer["trace.overhead_pct"] = trace_overhead_pct(
            op_ms, op_latency_ms(w.traced, KINDS))
        layer.update(layer_per_op(w.tracer, tops))
        layer.update(curve_ns_per_row(table, ROWS // splits))
        samples["traced_ops"] = len(tops)
        w.dump_spans("encode_mix")
    summaries = {f"{k}_s": summarize(w.untraced.seconds(k)) for k in KINDS}
    summaries["encode_rows_per_s"] = ROWS / (op_ms / 1e3) if op_ms else None
    return {"ops": w.all_ops(), "metrics": metrics, "layer": layer,
            "samples": samples, "summaries": summaries,
            "input": {"rows": files.rows, "bytes": files.bytes,
                      "splits": splits}}

"""The correctness checks flag corrupted results as failed ops, and a
failed op does not stop the run."""

import statistics
import time

import numpy as np
import pytest

from perfbench import common, encode_mix, inputs, range_query
from perfbench.harness import OpLog
from perfbench.stats import slot_weighted
from perfbench.trace import FS_FUNCS, Tracer


def _row(n, a, b):
    return {"n": n, "a": a, "b": b}


def test_corrupted_encode_checksum_is_a_failed_op():
    log = OpLog(spark=None)
    check = encode_mix.check_checksum((100, 7, 3))
    log.run("hilbert_i32", lambda: _row(100, 7, 3), check)
    log.run("hilbert_i32", lambda: _row(100, 8, 3), check)   # one key off
    log.run("hilbert_i32", lambda: _row(99, 7, 3), check)    # a row lost
    assert [o.ok for o in log.ops] == [True, False, False]
    assert "checksum" in log.ops[1].error


def test_null_checksum_sum_is_a_failed_op():
    """A run whose keys or mismatch flags all came back null sums to
    null; that must not pass as a zero sum."""
    log = OpLog(spark=None)
    check = encode_mix.check_checksum((100, 0, 0))
    log.run("roundtrip", lambda: _row(100, None, 0), check)
    assert not log.ops[0].ok


@pytest.fixture(scope="module")
def spark():
    from lindel_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=1)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_null_round_trip_decode_is_a_mismatch(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 2, [1, 2]), (3, 4, None), (5, 6, [5, 7]), (7, 8, [None, 8])],
        "px int, py int, d array<bigint>")
    bad = encode_mix.roundtrip_mismatch(F.col("d"), F.col("px"), F.col("py"))
    assert [r[0] for r in df.select(bad).collect()] == [
        False, True, True, True]
    n_bad = df.select(bad.cast("long").alias("b")).agg(F.sum("b")).first()[0]
    assert n_bad == 3


def test_goldens_check():
    assert encode_mix.check_goldens(encode_mix.GOLDENS) is None
    assert encode_mix.check_goldens((22, 29, 0)) is not None


def test_expected_checksums_match_reference_goldens():
    """The NumPy reference the encode ops are checked against agrees
    with the reference extension's golden Hilbert value."""
    from lindel_spark import curve

    U = curve.bitcast_to_unsigned(np.array([[1, 2, 3]], np.int8), 8)
    assert curve.hilbert_encode_batch(U, 8)[1][0] == 22
    t = inputs.make_trips(1_000, seed=2)
    exp = encode_mix.expected_checksums(t)
    assert exp["roundtrip"] == (1_000, 0, 0)
    assert set(exp) == set(encode_mix.KINDS)


def test_wrong_read_count_is_a_failed_op():
    r = inputs.Read("box_1%", {"px": (0, 9), "py": (0, 9)}, None, 5, 15)
    log = OpLog(spark=None)
    check = range_query.read_check(r)
    log.run("select", lambda: (None, {}, {"n": 5, "s": 15}), check)
    log.run("select", lambda: (None, {}, {"n": 4, "s": 15}), check)
    log.run("select", lambda: (None, {}, {"n": 5, "s": 14}), check)
    log.run("select", lambda: (None, {}, {"n": 5, "s": None}), check)
    assert [o.ok for o in log.ops] == [True, False, False, False]


def test_raising_op_is_recorded_and_the_run_continues():
    log = OpLog(spark=None)

    def boom():
        raise RuntimeError("executor lost")

    log.run("select", boom)
    log.run("select", lambda: 1, lambda r: None)
    assert [o.ok for o in log.ops] == [False, True]
    assert "executor lost" in log.ops[0].error


def test_warm_up_ops_are_dropped_unless_they_fail():
    log = OpLog(spark=None)
    log.timed = False
    log.run("a", lambda: 1)
    log.run("a", lambda: 1, lambda r: "wrong")
    log.timed = True
    log.run("a", lambda: 1)
    assert [(o.id, o.ok) for o in log.ops] == [(1, False), (2, True)]


def test_span_self_time_subtracts_children():
    tr = Tracer()

    def child():
        time.sleep(0.02)

    def parent():
        tr.call("c", child)
        tr.call("c", child)
        time.sleep(0.01)

    tr.call("p", parent)
    p = tr.by_name("p")[0]
    kids = tr.by_name("c")
    assert all(k.parent == p.id for k in kids)
    assert abs(tr.self_time(p) - ((p.end - p.start)
               - sum(k.end - k.start for k in kids))) < 1e-9
    assert 0.005 < tr.self_time(p) < 0.03


def test_wrap_records_spans_and_unwrap_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer()
    tr.wrap(mod, "f", "m.f")
    tr.op = 3
    assert mod.f(1) == 2
    tr.unwrap()
    assert mod.f is orig
    assert [(s.name, s.op) for s in tr.spans] == [("m.f", 3)]
    assert tr.calls_per_op("m.", {3}) == {"m.f": 1.0}


def test_scanned_bytes_weighs_every_cycle_slot_the_same():
    slots = {k: [100] for k in inputs.READ_CYCLE}
    slots["box_10%"] = [900]
    one = slot_weighted(slots, inputs.READ_CYCLE, statistics.mean)
    assert one == (100 * 7 + 900) / 8
    # a run that stopped half-way through a cycle, with more box_10%
    # samples of the same size, reads the same
    slots["box_10%"] = [900, 900, 900]
    assert slot_weighted(slots, inputs.READ_CYCLE, statistics.mean) == one
    del slots["fare"]
    assert slot_weighted(slots, inputs.READ_CYCLE, statistics.mean) is None


def test_op_latency_weighs_kinds_by_their_slots_not_their_samples():
    """Reads: four select slots and four lookup slots, so the latency
    is the mean of the select and lookup medians however many of each
    a run took."""
    log = OpLog(spark=None)
    for kind, s in (("select", 1.0), ("select", 1.2), ("select", 1.1),
                    ("lookup", 2.0)):
        log.run(kind, lambda: None)
        log.ops[-1].seconds = s
    ms = common.op_latency_ms(log, range_query.OP_SLOTS)
    assert range_query.OP_SLOTS.count("lookup") == 4
    assert abs(ms - (1100 + 2000) / 2) < 1e-6
    assert common.op_latency_ms(log, encode_mix.KINDS) is None


def test_layer_metrics_read_zero_for_a_layer_an_op_does_not_reach():
    tr = Tracer()
    log = OpLog(spark=None)
    log.run("hilbert_i32", lambda: None,
            info={"rows": 10, "rows_scanned": 10, "arrow_nodes": 1})
    log.run("hilbert_i32", lambda: None,
            info={"rows": 10, "rows_scanned": 10, "arrow_nodes": 0})
    out = common.layer_per_op(tr, log.ops)
    assert out["functions.arrow_eval_nodes_per_op"] == 0.5
    assert out["profile.rows_returned_per_row_scanned"] == 1.0
    assert out["fs.ms_per_op"] == 0 and out["write.self_ms_per_op"] == 0
    assert out["profile.files_scanned_per_op"] == 0
    assert all(out[f"fs.calls_per_op.{f}"] == 0 for f in FS_FUNCS)

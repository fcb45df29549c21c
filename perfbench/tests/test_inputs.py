"""Seeded input generation: same seed, same bytes; new seed, new data."""

import hashlib
import os

import numpy as np
import pytest

from perfbench import inputs


def _digest(files: inputs.InputFiles) -> str:
    h = hashlib.sha256()
    for p in files.paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_gives_identical_table_and_files(tmp_path):
    a = inputs.make_trips(5_000, seed=7)
    b = inputs.make_trips(5_000, seed=7)
    assert a.equals(b)
    fa = inputs.write_parquet(a, str(tmp_path / "a"), 3)
    fb = inputs.write_parquet(b, str(tmp_path / "b"), 3)
    assert _digest(fa) == _digest(fb)
    assert fa.rows == 5_000 and fa.bytes == fb.bytes
    assert [os.path.basename(p) for p in fa.paths] == [
        "part-000.parquet", "part-001.parquet", "part-002.parquet"]


def test_different_seed_gives_different_input():
    a = inputs.make_trips(5_000, seed=7)
    b = inputs.make_trips(5_000, seed=8)
    assert a.schema == b.schema
    for col in ("px", "py", "lon", "lat", "fare", "note"):
        assert not a.column(col).equals(b.column(col)), col


def test_trips_schema_and_domain():
    t = inputs.make_trips(2_000, seed=1)
    assert tuple(t.column_names) == inputs.COLUMNS
    assert t.column("trip_id").to_pylist() == list(range(2_000))
    px = t.column("px").to_numpy()
    assert px.dtype == np.int32
    assert px.min() >= 0 and px.max() < 1 << inputs.GRID_BITS


def test_reads_are_seeded_and_answers_are_brute_force():
    t = inputs.make_trips(20_000, seed=3)
    reads = inputs.make_reads(t, cycles=2, seed=9)
    assert reads == inputs.make_reads(t, cycles=2, seed=9)
    assert reads != inputs.make_reads(t, cycles=2, seed=10)
    assert len(reads) == 2 * len(inputs.READ_CYCLE)
    tid = t.column("trip_id").to_numpy()
    px, py = t.column("px").to_numpy(), t.column("py").to_numpy()
    for r in reads:
        assert r.rows >= 1   # every read of the mix matches some row
        if r.probe is not None:
            assert r.rows == 1 and r.id_sum == r.probe   # ids in the store
            continue
        if "px" in r.ranges:
            (x0, x1), (y0, y1) = r.ranges["px"], r.ranges["py"]
            m = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            assert r.rows == m.sum() and r.id_sum == tid[m].sum()


@pytest.mark.parametrize("share", [0.001, 0.01, 0.1])
def test_box_holds_at_least_its_target(share):
    t = inputs.make_trips(20_000, seed=5)
    px, py = t.column("px").to_numpy(), t.column("py").to_numpy()
    target = int(len(px) * share)
    h = inputs.box_for(px, py, int(px[0]), int(py[0]), target)
    inside = ((abs(px.astype(np.int64) - px[0]) <= h)
              & (abs(py.astype(np.int64) - py[0]) <= h)).sum()
    assert inside >= target

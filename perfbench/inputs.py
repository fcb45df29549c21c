"""Seeded input generation for the benchmark (NumPy + pyarrow, no Spark).

The table echoes the reference's taxi-pickup example: points on an
integer grid drawn from a skewed mixture of hotspots plus a uniform
background, because curve ordering pays off on clustered data and a
uniform cloud hides it. Everything here is a pure function of the
seed, so the same seed gives byte-identical parquet inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GRID_BITS = 20            # px, py live in [0, 2^20)
HOTSPOTS = 12
LAYOUT_SEED = 20_240_917  # fixes where the hotspots are, for every seed
BACKGROUND_SHARE = 0.15   # rows drawn uniformly over the whole grid
NOTES = 4096              # distinct string payloads
COLUMNS = ("trip_id", "px", "py", "lon", "lat", "fare", "note")


def make_trips(n: int, seed: int) -> pa.Table:
    """``n`` trips-like rows: trip_id int64 (0..n-1, unique), px/py
    int32 grid cells, lon/lat float64 derived from the cell plus
    jitter, fare float64 (not indexed) and a short string payload.

    The hotspot layout is part of the workload and the same for every
    seed; the seed draws the rows from it. Different seeds thus give
    different inputs of the same shape, and run-to-run spread measures
    the program, not how lucky the layout was."""
    grid = 1 << GRID_BITS
    layout = np.random.default_rng(LAYOUT_SEED)
    centers = layout.integers(grid // 16, grid - grid // 16,
                              size=(HOTSPOTS, 2))
    sigma = layout.uniform(grid / 400, grid / 60, size=HOTSPOTS)
    # Zipf-like hotspot weights: a few dense centres, a long thin tail
    weights = 1.0 / np.arange(1, HOTSPOTS + 1)
    weights /= weights.sum()
    rng = np.random.default_rng(seed)
    comp = rng.choice(HOTSPOTS, size=n, p=weights)
    xy = centers[comp] + rng.normal(0.0, 1.0, size=(n, 2)) * sigma[comp, None]
    background = rng.random(n) < BACKGROUND_SHARE
    xy[background] = rng.integers(0, grid, size=(int(background.sum()), 2))
    xy = np.clip(np.rint(xy), 0, grid - 1).astype(np.int32)
    px, py = xy[:, 0], xy[:, 1]
    lon = -74.3 + px * (0.6 / grid) + rng.uniform(0, 0.6 / grid, n)
    lat = 40.5 + py * (0.4 / grid) + rng.uniform(0, 0.4 / grid, n)
    fare = np.round(2.5 + rng.gamma(2.0, 7.0, n), 2)
    pool = pa.array([f"v{i % 8}-{(i * 7919) % 100_000:05d}"
                     for i in range(NOTES)], pa.string())
    note = pool.take(pa.array(rng.integers(0, NOTES, n)))
    return pa.table({
        "trip_id": pa.array(np.arange(n, dtype=np.int64)),
        "px": pa.array(px),
        "py": pa.array(py),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
        "fare": pa.array(fare),
        "note": note,
    })


@dataclass(frozen=True)
class InputFiles:
    """Where one generated table landed on disk."""

    paths: tuple[str, ...]
    rows: int
    bytes: int


def write_parquet(table: pa.Table, out_dir: str, n_files: int) -> InputFiles:
    """Split ``table`` into ``n_files`` contiguous row slices, one
    parquet file each (one row group per file)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(part, p, row_group_size=max(part.num_rows, 1))
        paths.append(p)
    return InputFiles(tuple(paths), table.num_rows,
                      sum(os.path.getsize(p) for p in paths))


# ---------------------------------------------------------------------------
# range_query inputs: query parameters plus brute-force answers
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Read:
    """One read of the range_query mix with its brute-force answer."""

    kind: str            # one of READ_CYCLE
    ranges: dict         # column -> (lo, hi) inclusive, for selects
    probe: int | None    # trip_id for lookups
    rows: int            # expected row count
    id_sum: int          # expected sum(trip_id) over the result


def box_for(px: np.ndarray, py: np.ndarray, cx: int, cy: int,
            target_rows: int) -> int:
    """Half-width of the square box around (cx, cy) that holds at
    least ``target_rows`` rows: the target-th smallest Chebyshev
    distance."""
    d = np.maximum(np.abs(px.astype(np.int64) - cx),
                   np.abs(py.astype(np.int64) - cy))
    k = min(max(target_rows, 1), len(d)) - 1
    return int(np.partition(d, k)[k])


# The read mix of one cycle, in order. Fixed composition keeps
# per-read averages comparable across seeds; only positions vary.
# Every lookup probes an id that is in the store.
READ_CYCLE = ("box_0.1%", "lookup", "box_1%", "lookup", "fare",
              "lookup", "box_10%", "lookup")
_BOX_SHARE = {"box_0.1%": 0.001, "box_1%": 0.01, "box_10%": 0.1}
FARE_SHARE = 0.01


def make_reads(table: pa.Table, cycles: int, seed: int) -> list[Read]:
    """``cycles`` x READ_CYCLE reads over ``table`` with expected row
    counts and trip_id sums computed by brute force."""
    rng = np.random.default_rng(seed)
    tid = table.column("trip_id").to_numpy()
    px = table.column("px").to_numpy()
    py = table.column("py").to_numpy()
    fare = table.column("fare").to_numpy()
    n = len(tid)
    fare_sorted = np.sort(fare)
    out = []
    for _ in range(cycles):
        for kind in READ_CYCLE:
            if kind in _BOX_SHARE:
                i = int(rng.integers(n))  # centre on a row: density-weighted
                cx, cy = int(px[i]), int(py[i])
                h = box_for(px, py, cx, cy, int(n * _BOX_SHARE[kind]))
                ranges = {"px": (cx - h, cx + h), "py": (cy - h, cy + h)}
                m = ((px >= cx - h) & (px <= cx + h)
                     & (py >= cy - h) & (py <= cy + h))
                probe = None
            elif kind == "fare":
                j = int(rng.integers(0, int(n * (1 - FARE_SHARE))))
                lo = float(fare_sorted[j])
                hi = float(fare_sorted[j + int(n * FARE_SHARE)])
                ranges = {"fare": (lo, hi)}
                m = (fare >= lo) & (fare <= hi)
                probe = None
            else:
                probe = int(rng.integers(n))
                ranges = {}
                m = tid == probe
            out.append(Read(kind, ranges, probe, int(m.sum()),
                            int(tid[m].sum())))
    return out

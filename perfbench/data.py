"""Seeded synthetic trip files for the ``pivot_etl`` workload.

numpy + pyarrow only: the program under test receives nothing but the files
written here. The same seed always writes the same rows. The query
workloads read the engine's own sf tables instead (``perfbench/sf/``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRIP_YEAR = 2023
TRIP_TYPES = ("yellow", "green")
N_PLACES = 120

_US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class TripCounts:
    """What ``run_pivot_pipeline`` must report for a generated trip set."""

    files: int
    rows: int
    null_timestamps: int
    month_spill_rows: int


def _month_start_us(year: int, month: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-01", "us").astype(np.int64))


def write_trips(out_dir: str, seed: int, n_rows: int, months: int = 8) -> TripCounts:
    """Write ``2 * months`` files ``{yellow,green}_tripdata_YYYY-MM.parquet``.

    Yellow files use the modern TLC names (``tpep_pickup_datetime``, int32
    ``PULocationID``); green files use ``lpep_pickup_datetime`` and an int64
    ``pickup_location_id``, so ingest resolves two schema groups. About
    0.5% of rows fall one to three days outside their file's month (the
    month-mismatch audit) and about 0.1% have a null pickup time (parse
    failures). Pickup places follow a Zipf-like law so that the min-rides
    filter both keeps and drops cells.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_files = len(TRIP_TYPES) * months
    per_file = n_rows // n_files
    place_w = 1.0 / np.arange(1, N_PLACES + 1) ** 0.9
    place_w /= place_w.sum()
    nulls = spill = 0
    for taxi in TRIP_TYPES:
        for month in range(1, months + 1):
            start = _month_start_us(TRIP_YEAR, month)
            end = _month_start_us(TRIP_YEAR + month // 12, month % 12 + 1)
            ts = rng.integers(start, end, per_file, dtype=np.int64)
            out = rng.random(per_file) < 0.005
            shift = rng.integers(1, 4, per_file) * _US_PER_DAY
            before = rng.random(per_file) < 0.5
            ts = np.where(out & before, start - shift + ts % _US_PER_DAY, ts)
            ts = np.where(out & ~before, end + shift - _US_PER_DAY + ts % _US_PER_DAY, ts)
            null = rng.random(per_file) < 0.001
            nulls += int(null.sum())
            spill += int((out & ~null).sum())
            place = rng.choice(N_PLACES, per_file, p=place_w) + 1
            ts_arr = pa.array(ts.astype("datetime64[us]"), mask=null)
            if taxi == "yellow":
                cols = {
                    "tpep_pickup_datetime": ts_arr,
                    "PULocationID": pa.array(place.astype(np.int32)),
                }
            else:
                cols = {
                    "lpep_pickup_datetime": ts_arr,
                    "pickup_location_id": pa.array(place.astype(np.int64)),
                }
            cols["fare_amount"] = pa.array(np.round(rng.gamma(2.0, 8.0, per_file), 2))
            cols["trip_distance"] = pa.array(np.round(rng.gamma(1.5, 2.0, per_file), 2))
            name = f"{taxi}_tripdata_{TRIP_YEAR}-{month:02d}.parquet"
            pq.write_table(pa.table(cols), os.path.join(out_dir, name))
    return TripCounts(n_files, per_file * n_files, nulls, spill)

"""Ingest layer: heterogeneous trip files -> canonical trips DataFrame.

Exercises the four FIXTURES.md §1 schema variants (modern yellow, green,
old lat/lon with string datetimes, fhv with epoch ints) end to end through
normalize_trips + hourly_pivot.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp
from taxi_data_datapipeline_spark.operators.pivot import hourly_pivot
from taxi_data_datapipeline_spark.sources.ingest import normalize_trips
from taxi_data_datapipeline_spark.sources.paths import taxi_type_expr, year_month_expr


@pytest.fixture(scope="module")
def trip_files(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("trips")
    d = datetime.datetime(2023, 1, 5, 7, 30)

    yellow = spark.createDataFrame(
        [(d, 132, 12.5), (d.replace(hour=8), 132, 7.0), (None, 4, 1.0)],
        "tpep_pickup_datetime timestamp, PULocationID int, fare_amount double",
    )
    yellow_path = str(base / "yellow_tripdata_2023-01.parquet")
    yellow.coalesce(1).write.parquet(yellow_path)

    green = spark.createDataFrame(
        [(d.replace(day=6), 7)],
        "lpep_pickup_datetime timestamp, pickup_location_id bigint",
    )
    green_path = str(base / "green_tripdata_2023-01.parquet")
    green.coalesce(1).write.parquet(green_path)

    old = spark.createDataFrame(
        [("2009-03-02 07:15:00", 40.7216, -73.9934), ("garbage", 40.0, -73.0)],
        "Trip_Pickup_DateTime string, Start_Lat double, Start_Lon double",
    )
    old_path = str(base / "yellow_tripdata_2009-03.parquet")
    old.coalesce(1).write.parquet(old_path)

    epoch_ms = int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
    fhv = spark.createDataFrame(
        [(epoch_ms, "Z1"), (epoch_ms // 1000, "Z1")],  # one ms value, one s value
        "request_datetime long, pu_zone string",
    )
    fhv_path = str(base / "fhv_tripdata_2023-01.parquet")
    fhv.coalesce(1).write.parquet(fhv_path)

    junk = spark.createDataFrame([(1, "x")], "a int, b string")
    junk_path = str(base / "random_file.parquet")
    junk.coalesce(1).write.parquet(junk_path)

    return [yellow_path, green_path, old_path, fhv_path, junk_path]


def test_normalize_trips_union(spark, trip_files):
    trips, report = normalize_trips(spark, trip_files)
    assert trips.columns == [
        "pickup_datetime", "pickup_place", "taxi_type", "file_year", "file_month",
    ]
    assert len(report.skipped) == 1 and "random_file" in report.skipped[0]
    rows = trips.collect()
    assert len(rows) == 8  # nulls kept here; dropped by the pivot stage

    by_type = {}
    for r in rows:
        by_type.setdefault(r["taxi_type"], []).append(r)
    assert len(by_type["yellow"]) == 5  # 3 modern (incl null ts) + 2 old latlon
    assert len(by_type["green"]) == 1
    assert len(by_type["fhv"]) == 2

    green = by_type["green"][0]
    assert green["pickup_place"] == "7" and green["file_month"] == 1

    # lat/lon grid key with round(…,3) string formatting
    places = {r["pickup_place"] for r in by_type["yellow"]}
    assert "40.722_-73.993" in places

    # epoch ms and epoch s coerce to the same instant
    fhv_ts = {r["pickup_datetime"] for r in by_type["fhv"]}
    assert len(fhv_ts) == 1 and list(fhv_ts)[0] == datetime.datetime(2023, 1, 5, 7, 30)

    # string datetime parse: good one parses, garbage -> NULL
    old = [r for r in by_type["yellow"] if r["file_month"] == 3]
    parsed = {r["pickup_datetime"] for r in old}
    assert datetime.datetime(2009, 3, 2, 7, 15) in parsed and None in parsed


def test_end_to_end_pivot_over_ingest(spark, trip_files):
    trips, _ = normalize_trips(spark, trip_files)
    wide = hourly_pivot(trips, min_rides=1)
    got = {(r["taxi_type"], r["pickup_place"]): r for r in wide.collect()}
    assert got[("yellow", "132")]["hour_7"] == 1
    assert got[("yellow", "132")]["hour_8"] == 1
    assert got[("fhv", "Z1")]["hour_7"] == 2


def test_path_metadata_exprs(spark, trip_files):
    df = spark.read.parquet(trip_files[0]).select(
        taxi_type_expr().alias("taxi_type"),
        *[c.alias(n) for c, n in zip(year_month_expr(), ["y", "m"])],
    )
    r = df.collect()[0]
    assert r["taxi_type"] == "yellow" and r["y"] == 2023 and r["m"] == 1


def test_coerce_timestamp_type_dispatch(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("2023-01-05 07:30:00", 1672904700, 1672904700000)],
        "s string, es long, ems long",
    )
    out = df.select(
        coerce_timestamp(F.col("s"), T.StringType()).alias("from_str"),
        coerce_timestamp(F.col("es"), T.LongType()).alias("from_s"),
        coerce_timestamp(F.col("ems"), T.LongType()).alias("from_ms"),
    ).collect()[0]
    expect = datetime.datetime(2023, 1, 5, 7, 45)
    assert out["from_str"] == datetime.datetime(2023, 1, 5, 7, 30)
    assert out["from_s"] == out["from_ms"]


def test_pipeline_ingests_pandas_default_nanos_file(spark, tmp_path):
    """pandas/pyarrow write TIMESTAMP(NANOS) by default; the ingest layer
    must resolve the footer (nanosAsLong) and the magnitude ladder in
    coerce_timestamp must land the values on the right microseconds —
    not smear them through a double division or reject the file."""
    import numpy as np
    import pandas as pd

    from taxi_data_datapipeline_spark.sources.ingest import normalize_trips

    n = 200
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 UTC
    steps = (np.arange(n) * 37_123_456_789) % (28 * 86400 * 10**9)
    pdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": pd.to_datetime(base_ns + steps),
            "PULocationID": (np.arange(n) * 7) % 26,
        }
    )
    f = str(tmp_path / "yellow_tripdata_2024-01.parquet")
    pdf.to_parquet(f, index=False)  # nanos, on purpose

    trips, report = normalize_trips(spark, [f])
    assert report.skipped == []
    rows = trips.collect()
    assert len(rows) == n
    got = sorted(r["pickup_datetime"] for r in rows)
    want = sorted(
        pd.to_datetime(base_ns + steps).floor("us").tz_localize("UTC").to_pydatetime()
    )
    assert [g.replace(tzinfo=None) for g in got] == [
        w.replace(tzinfo=None) for w in want
    ]
    assert rows[0]["taxi_type"] == "yellow"


def test_epoch_magnitude_ladder_all_units(spark):
    """coerce_timestamp must land ns/us/ms/s epoch integers on the same
    instant (truncated to the unit's precision) — one Spark job over a
    random sample spanning 1990..2100."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp

    rnd = random.Random(11)
    # The unit bands are disambiguated by magnitude; seconds are only
    # unambiguous below the ms threshold (2.6e9 ~ year 2052, the
    # documented envelope in functions/timestamps.py).
    secs = [rnd.randrange(631_152_000, 2_599_999_999) for _ in range(200)]
    rows = [(s, s * 10**3, s * 10**6, s * 10**9) for s in secs]
    df = spark.createDataFrame(rows, "s long, ms long, us long, ns long")
    out = df.select(
        *[
            coerce_timestamp(F.col(c), T.LongType()).alias(c)
            for c in ("s", "ms", "us", "ns")
        ]
    ).collect()
    for r, s in zip(out, secs):
        want = datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)
        for c in ("s", "ms", "us", "ns"):
            assert r[c] == want, (c, s, r[c], want)


def test_sniff_fallback_reads_footer_hostile_file(spark, tmp_path):
    """Reference pivot_all_files.py:196-202 analog: a file whose footer
    Spark's inference REJECTS (case-duplicate column names ->
    COLUMN_ALREADY_EXISTS) but whose canonical columns are perfectly
    readable. Footer-only resolution must fall back to the pyarrow
    first-batch sniff and scan with a pruned declared schema; the skip
    list stays empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    tbl = pa.table(
        {
            "tpep_pickup_datetime": pa.array(
                [1_675_240_200_000_000] * 3, pa.timestamp("us")
            ),
            "PULocationID": pa.array([132, 132, 7], pa.int64()),
            # the footer breakers: names differing only by case
            "Extra": pa.array([1, 2, 3], pa.int64()),
            "extra": pa.array([4, 5, 6], pa.int64()),
        }
    )
    pq.write_table(tbl, p)

    # precondition: plain Spark inference really does fail on this file
    with pytest.raises(Exception):
        spark.read.parquet(p).schema  # noqa: B018

    df, report = normalize_trips(spark, [p])
    assert report.skipped == []
    assert p in report.resolved
    rows = df.collect()
    assert len(rows) == 3
    assert {r.pickup_place for r in rows} == {"132", "7"}
    assert all(r.taxi_type == "yellow" for r in rows)
    assert all(r.pickup_datetime is not None for r in rows)


def test_sniff_fallback_groups_by_full_declared_schema(spark, tmp_path):
    """Two footer-hostile files whose DETECTED columns and datetime type
    match but whose location column differs physically (int64 vs string)
    must not share one declared-schema scan — last-writer-wins on the
    group's declared schema would misread or fail the other file. The
    group key includes every pruned field's type, so each file scans
    with its own declared schema and both normalize correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_hostile(path, loc_array):
        pq.write_table(
            pa.table(
                {
                    "tpep_pickup_datetime": pa.array(
                        [1_675_240_200_000_000] * 2, pa.timestamp("us")
                    ),
                    "PULocationID": loc_array,
                    "Extra": pa.array([1, 2], pa.int64()),
                    "extra": pa.array([3, 4], pa.int64()),
                }
            ),
            path,
        )

    p_int = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    p_str = str(tmp_path / "yellow_tripdata_2023-02b.parquet")
    write_hostile(p_int, pa.array([132, 7], pa.int64()))
    write_hostile(p_str, pa.array(["214", "88"], pa.string()))

    df, report = normalize_trips(spark, [p_int, p_str])
    assert report.skipped == []
    assert set(report.resolved) == {p_int, p_str}
    rows = df.collect()
    assert len(rows) == 4
    assert {r.pickup_place for r in rows} == {"132", "7", "214", "88"}


def _next_job_id(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _spark_dir(spark, base):
    p = str(base / "yellow_tripdata_2023-01.parquet")
    spark.createDataFrame(
        [(datetime.datetime(2023, 1, 5, 7, 30), 132, 1.5)],
        "tpep_pickup_datetime timestamp, PULocationID int, fare double",
    ).coalesce(1).write.parquet(p)
    return p


def _arrow_nanos(spark, base):
    import pandas as pd

    p = str(base / "yellow_tripdata_2024-01.parquet")
    pd.DataFrame(
        {"tpep_pickup_datetime": pd.to_datetime([1_704_067_200_000_000_000]),
         "PULocationID": [7]}
    ).to_parquet(p, index=False)
    return p


def _string_datetimes(spark, base):
    p = str(base / "yellow_tripdata_2009-03.parquet")
    spark.createDataFrame(
        [("2009-03-02 07:15:00", 40.7216, -73.9934)],
        "Trip_Pickup_DateTime string, Start_Lat double, Start_Lon double",
    ).coalesce(1).write.parquet(p)
    return p


def _case_duplicate(spark, base):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(base / "yellow_tripdata_2023-02.parquet")
    pq.write_table(pa.table({"ts": [1], "Extra": [1], "extra": [2]}), p)
    return p


def _truncated(spark, base):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(base / "yellow_tripdata_2023-03.parquet")
    pq.write_table(pa.table({"ts": list(range(1000))}), p)
    with open(p, "r+b") as fh:
        fh.truncate(fh.seek(0, 2) // 2)
    return p


@pytest.mark.parametrize(
    "make",
    [_spark_dir, _arrow_nanos, _string_datetimes, _case_duplicate, _truncated],
)
def test_footer_schema_matches_inference(spark, tmp_path, make):
    """The driver-side footer reader returns exactly the schema Spark's
    inference does, or fails wherever inference fails, and runs no job."""
    from taxi_data_datapipeline_spark.sources.ingest import footer_schema

    p = make(spark, tmp_path)

    def outcome(read):
        try:
            return read()
        except Exception:
            return "fails"

    want = outcome(lambda: spark.read.parquet(p).schema)
    before = _next_job_id(spark)
    got = outcome(lambda: footer_schema(spark, p))
    assert _next_job_id(spark) == before
    assert got == want


def test_normalize_trips_submits_no_job(spark, trip_files):
    """Footer reads, detection and every group's declared-schema scan are
    planning only: not one Spark job before the caller's action."""
    before = _next_job_id(spark)
    trips, report = normalize_trips(spark, trip_files, typed_place=True)
    trips.schema  # noqa: B018 - analysis only
    assert _next_job_id(spark) == before
    assert len(report.resolved) == 4


def test_mixed_location_types_in_one_group_match_duckdb(spark, tmp_path):
    """Two files of the same taxi type and month whose location columns are
    int32 and int64 scan with their own footer types (an int64 id beyond
    the int32 range survives), and the pivot counts match DuckDB's."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from taxi_data_datapipeline_spark.plans.pipeline import build_wide_plan

    hour_us = 3_600_000_000
    jan5 = 1_672_876_800_000_000  # 2023-01-05 00:00 UTC
    p32 = str(tmp_path / "yellow_tripdata_2023-01.parquet")
    p64 = str(tmp_path / "yellow_tripdata_2023-01b.parquet")
    pq.write_table(pa.table({
        "tpep_pickup_datetime": pa.array(
            [jan5 + (i % 24) * hour_us for i in range(90)], pa.timestamp("us")),
        "PULocationID": pa.array([132] * 60 + [7] * 30, pa.int32()),
    }), p32)
    pq.write_table(pa.table({
        "tpep_pickup_datetime": pa.array(
            [jan5 + (i % 5) * hour_us for i in range(80)], pa.timestamp("us")),
        "PULocationID": pa.array([132] * 40 + [5_000_000_000] * 40, pa.int64()),
    }), p64)

    trips, report = normalize_trips(spark, [p32, p64], typed_place=True)
    assert report.skipped == []
    wide, _, _ = build_wide_plan(trips, min_rides=1, taxi_types=["yellow"])
    hours = [f"hour_{h}" for h in range(24)]
    got = sorted(
        (r["date"], r["pickup_place"], *(r[h] for h in hours)) for r in wide.collect()
    )
    counts = ", ".join(
        f"count(*) FILTER (WHERE hour(ts) = {h})" for h in range(24)
    )
    want = sorted(duckdb.sql(
        f"""SELECT CAST(ts AS DATE), CAST(loc AS VARCHAR), {counts}
        FROM (SELECT tpep_pickup_datetime AS ts, CAST(PULocationID AS BIGINT) AS loc
              FROM read_parquet('{p32}')
              UNION ALL
              SELECT tpep_pickup_datetime, PULocationID FROM read_parquet('{p64}'))
        GROUP BY ALL"""
    ).fetchall())
    assert got == want
    assert {g[1] for g in got} == {"132", "7", "5000000000"}

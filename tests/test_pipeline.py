"""End-to-end pipeline runner test (reference main(), pivot_all_files.py:366-554).

Builds a tiny two-file taxi-like dataset (heterogeneous schemas: yellow with
tpep_* + PULocationID, green with lpep_* + lat/lon) and runs the full
discover -> normalize -> pivot -> sink -> report flow.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.plans.pipeline import (
    PipelineConfig,
    PipelineMetrics,
    render_report_tex,
    run_pivot_pipeline,
    select_input_files,
)


@pytest.fixture(scope="module")
def taxi_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("taxi")

    # 60 yellow rows in one (date, place) cell; 3 in another; one null ts;
    # one Feb row inside the Jan file (month mismatch: counted, kept).
    yts = [pd.Timestamp(f"2024-01-05 08:{m:02d}:00") for m in range(60)]
    yts += [
        pd.Timestamp("2024-01-06 09:00:00"),
        pd.Timestamp("2024-01-06 09:10:00"),
        pd.Timestamp("2024-01-06 09:20:00"),
        pd.NaT,
        pd.Timestamp("2024-02-01 00:00:00"),
    ]
    ypdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": yts,
            "PULocationID": [132] * 60 + [7, 7, 7, 1, 132],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(ypdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )

    gpdf = pd.DataFrame(
        {
            "lpep_pickup_datetime": [pd.Timestamp("2024-02-10 12:00:00")] * 55,
            "pickup_latitude": [40.7216] * 55,
            "pickup_longitude": [-73.9943] * 55,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(gpdf),
        str(base / "green_tripdata_2024-02.parquet"),
        coerce_timestamps="us",
    )
    return str(base)


def test_select_input_files(taxi_dir):
    cfg = PipelineConfig(input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata")
    files = select_input_files(cfg)
    assert len(files) == 2
    cfg2 = PipelineConfig(
        input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata", max_files=1
    )
    assert len(select_input_files(cfg2)) == 1


def test_run_pivot_pipeline(spark, taxi_dir, tmp_path):
    out = str(tmp_path / "wide.parquet")
    report = str(tmp_path / "report.json")
    cfg = PipelineConfig(
        input_path=taxi_dir,
        output_path=out,
        min_rides=50,
        name_filter="tripdata",
        report_path=report,
        report_format="json",
    )
    metrics = run_pivot_pipeline(spark, cfg)

    assert metrics.files_discovered == 2
    assert metrics.files_processed == 2
    assert metrics.files_skipped == 0
    assert metrics.input_rows == 65 + 55
    assert metrics.parse_failures == 1
    assert metrics.month_mismatch_rows == 1  # the Feb row inside the Jan file
    # Kept: yellow (2024-01-05, 132) with 60; green latlon cell with 55.
    # Dropped: place 7 (3 rides), the stray Feb yellow row (1), null excluded.
    assert metrics.output_rows == 2
    assert metrics.low_count_dropped == 2

    wide = spark.read.parquet(out)
    assert sorted(wide.columns) == sorted(
        ["taxi_type", "date", "pickup_place", *[f"hour_{h}" for h in range(24)]]
    )
    rows = {(r.taxi_type, r.pickup_place): r for r in wide.collect()}
    assert rows[("yellow", "132")].hour_8 == 60
    assert rows[("green", "40.722_-73.994")].hour_12 == 55

    with open(report) as fh:
        rep = json.load(fh)
    assert rep["input_rows"] == 120
    assert rep["output_rows"] == 2


def test_partitioned_output_prunes(spark, taxi_dir, tmp_path):
    """partitionBy output + a partition-key filter on read-back must prune
    at the file-index level (PartitionFilters in the scan), not post-scan."""
    out = str(tmp_path / "wide_part.parquet")
    cfg = PipelineConfig(
        input_path=taxi_dir,
        output_path=out,
        min_rides=1,
        name_filter="tripdata",
        partition_output_by=["taxi_type"],
    )
    run_pivot_pipeline(spark, cfg)
    back = spark.read.parquet(out).filter("taxi_type = 'yellow'")
    plan = spark._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "isnotnull(taxi_type" in plan
    assert back.count() > 0
    assert {r.taxi_type for r in back.select("taxi_type").distinct().collect()} == {"yellow"}


def test_zorder_output_clusters_both_dimensions(spark, tmp_path):
    """Opt-in ZORDER BY on the pipeline sink: with 4 output files over a
    64-date x 64-place grid, every file must cover only a fraction of BOTH
    dimensions (a single-column sort would give ~full range on the other
    column) — the property that lets readers skip files via min/max stats
    on either filter column."""
    import glob

    base = tmp_path / "taxi_grid"
    base.mkdir()
    dates = pd.date_range("2024-01-01", periods=64, freq="D")
    pdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": [d + pd.Timedelta(hours=8) for d in dates for _ in range(64)],
            "PULocationID": list(range(1, 65)) * 64,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(pdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )

    out = str(tmp_path / "wide_z.parquet")
    cfg = PipelineConfig(
        input_path=str(base),
        output_path=out,
        min_rides=1,
        zorder_by=["date", "pickup_place"],
        zorder_files=4,
    )
    metrics = run_pivot_pipeline(spark, cfg)
    assert metrics.output_rows == 64 * 64

    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 4
    for f in files:
        part = spark.read.parquet(f)
        n_dates = part.select("date").distinct().count()
        n_places = part.select("pickup_place").distinct().count()
        assert n_dates <= 0.8 * 64, f"{f}: {n_dates} dates (no date clustering)"
        assert n_places <= 0.8 * 64, f"{f}: {n_places} places (no place clustering)"
    assert spark.read.parquet(out).count() == 64 * 64


def test_corrupt_file_skipped_not_fatal(spark, tmp_path):
    """An unreadable *.parquet is skipped with an error record (reference
    pivot_all_files.py:204-216), never a crash."""
    base = tmp_path / "mixed"
    base.mkdir()
    ypdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": [pd.Timestamp("2024-01-05 08:00:00")] * 3,
            "PULocationID": [1, 1, 1],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(ypdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )
    (base / "green_tripdata_2024-02.parquet").write_bytes(b"this is not parquet")

    cfg = PipelineConfig(
        input_path=str(base), output_path=str(tmp_path / "w.parquet"), min_rides=1
    )
    metrics = run_pivot_pipeline(spark, cfg)
    assert metrics.files_discovered == 2
    assert metrics.files_processed == 1
    assert metrics.files_skipped == 1
    assert metrics.output_rows == 1


def test_cli_main(spark, taxi_dir, tmp_path, capsys):
    """CLI parity with the reference's module invocation (README.md:20-46)."""
    from taxi_data_datapipeline_spark.__main__ import main

    out_dir = str(tmp_path / "cli_out")
    report = str(tmp_path / "cli_report.tex")
    rc = main(
        [
            "--input-dir", taxi_dir,
            "--output-dir", out_dir,
            "--min-rides", "50",
            "--report", report,
            "--max-files", "2",
            "--partition-size", "64MB",
        ]
    )
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["output_rows"] == 2
    with open(report) as fh:
        assert fh.read().startswith("\\begin{itemize}")
    assert spark.read.parquet(f"{out_dir}/wide_table.parquet").count() == 2


def test_report_tex_render():
    m = PipelineMetrics(input_rows=10, output_rows=2)
    tex = render_report_tex(m)
    assert tex.startswith("\\begin{itemize}")
    assert "\\item input rows: 10" in tex
    assert tex.rstrip().endswith("\\end{itemize}")


def test_cli_zorder_flag(spark, taxi_dir, tmp_path, capsys):
    """--zorder-by flows through the CLI into the clustered write path."""
    from taxi_data_datapipeline_spark.__main__ import main

    out_dir = str(tmp_path / "cli_z")
    rc = main(
        [
            "--input-dir", taxi_dir,
            "--output-dir", out_dir,
            "--min-rides", "1",
            "--report", str(tmp_path / "r.json"),
            "--zorder-by", "date", "pickup_place",
            "--zorder-files", "2",
        ]
    )
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["output_rows"] > 0
    back = spark.read.parquet(f"{out_dir}/wide_table.parquet")
    assert back.count() == printed["output_rows"]


def test_run_schema_check_warns_on_undetectable_file(spark, tmp_path):
    """Advisory pre-flight (reference pivot_all_files.py:343-363): the
    first <=5 files are footer-resolved; undetectable ones WARN but do
    not fail, and detectable ones report their datetime column."""
    import warnings as _warnings

    from taxi_data_datapipeline_spark.plans.pipeline import run_schema_check

    good = spark.createDataFrame(
        [("2023-01-05 07:30:00", 1)],
        "tpep_pickup_datetime string, PULocationID int",
    )
    good_path = str(tmp_path / "yellow_tripdata_2023-01.parquet")
    good.coalesce(1).write.parquet(good_path)
    bad = spark.createDataFrame([(1, "x")], "a int, b string")
    bad_path = str(tmp_path / "fhv_tripdata_2023-02.parquet")
    bad.coalesce(1).write.parquet(bad_path)

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        res = run_schema_check(spark, [good_path, bad_path])
    assert res[good_path] == "tpep_pickup_datetime"
    assert res[bad_path] is None
    msgs = [str(w.message) for w in caught]
    assert any("no pickup-datetime column" in m and bad_path in m for m in msgs)
    assert not any(good_path in m for m in msgs)  # advisory only for bad


def test_metadata_phase_submits_no_job(spark, taxi_dir):
    """Discovery, the schema pre-flight, ingest and the pivot plan are all
    driver-side planning: the pipeline's only jobs are its write's. Footers
    are read once and shared, as ``run_pivot_pipeline`` does."""
    from taxi_data_datapipeline_spark.plans.pipeline import (
        build_wide_plan,
        run_schema_check,
    )
    from taxi_data_datapipeline_spark.sources.ingest import (
        footer_schemas,
        normalize_trips,
    )

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    cfg = PipelineConfig(input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata")
    files = select_input_files(cfg)
    footers = footer_schemas(spark, files)
    checked = run_schema_check(spark, files, footers=footers)
    trips, report = normalize_trips(spark, files, typed_place=True, footers=footers)
    wide, _, _ = build_wide_plan(trips, 50, taxi_types=["green", "yellow"])
    wide.schema  # noqa: B018 - analysis only
    assert scheduler.nextJobId() == before
    assert all(checked.values()) and len(report.resolved) == 2

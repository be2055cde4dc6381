"""Flagship pipeline runner: discover -> normalize -> pivot -> sink -> report.

Re-expresses the reference's end-to-end ``main()`` (``pivot_all_files.py:
366-554``) as ONE Spark plan whose write is the only thing that runs on the
cluster: the metadata phase launches no Spark job, and a run over the
seeded 4-file trip set (``perfbench`` ``pivot_etl``) submits 2 jobs in
total — the pivot shuffle's map stage and the write, which adaptive query
execution submits as separate jobs:

* file discovery + name filter + priority sort + max-files slice
  (reference ``pivot_all_files.py:399-409``) stay driver-side — they are
  metadata operations on a path list;
* each file's Parquet footer is read once, driver-side with no job, and
  shared by the schema pre-flight and the ingest, whose scans all use a
  declared schema, so no scan infers one;
* the per-file process fan-out, per-batch partial aggregation, intermediate
  parquet materialization, and final combine (reference §3.1 steps 6-7)
  collapse into the single-shuffle ``hourly_pivot`` plan — Spark's task
  scheduler replaces the process pool, and partial/final HashAggregate
  replaces the hand-rolled three-level merge;
* run metrics (input rows, month-mismatch audit, parse failures, low-count
  drops — reference A3/A7) ride the SAME job via ``DataFrame.observe``,
  which is exactly-once per successful action (safe under task retries,
  unlike accumulators);
* the final table writes straight to the output URI (an ``s3a://`` path on
  a real cluster covers the reference's separate ``aws s3 cp`` step S8);
* the metrics report renders to JSON or LaTeX like the reference's
  ``generate_report`` (``pivot_all_files.py:507-541``).

Scale: the only data movement is the pivot's one shuffle on the
(type, date, place) key; everything else is embarrassingly parallel scan +
map-side work. No driver-side data ever materializes except the observed
metric scalars.
"""

from __future__ import annotations

import json
import time
from collections.abc import Sequence
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from taxi_data_datapipeline_spark.operators.pivot import HOUR_COLUMNS, row_total
from taxi_data_datapipeline_spark.operators.pivot import pivot_counts
from taxi_data_datapipeline_spark.sources.ingest import footer_schemas, normalize_trips
from taxi_data_datapipeline_spark.sources.paths import (
    discover_parquet_files,
    infer_taxi_type_from_path,
)
from taxi_data_datapipeline_spark.sources.schema_detect import resolve_trip_schema


@dataclass
class PipelineConfig:
    """CLI-surface of the reference ``main()`` (``pivot_all_files.py:367-392``)."""

    input_path: str
    output_path: str
    min_rides: int = 50
    max_files: int | None = None
    name_filter: str | None = None  # reference: "tripdata" (S5)
    report_path: str | None = None
    report_format: str = "json"  # "json" | "tex"
    partition_output_by: list[str] = field(default_factory=list)
    # Opt-in multi-dimensional clustering of the output files (OPTIMIZE
    # ZORDER BY analog): readers filtering on ANY of these columns skip
    # files/row-groups via parquet min/max stats.
    zorder_by: list[str] = field(default_factory=list)
    zorder_files: int = 8
    # Advisory <=5-file schema pre-flight (reference run_schema_check).
    schema_check: bool = True


@dataclass
class PipelineMetrics:
    """The reference's run-report record (``pivot_all_files.py:511-521``)."""

    files_discovered: int = 0
    files_processed: int = 0
    files_skipped: int = 0
    input_rows: int = 0
    output_rows: int = 0
    parse_failures: int = 0
    month_mismatch_rows: int = 0
    low_count_dropped: int = 0
    wall_seconds: float = 0.0


def _priority_sort(files: list[str]) -> list[str]:
    """yellow/green before fhv (reference ``pivot_all_files.py:406``)."""

    def key(p: str) -> tuple[int, str]:
        low = p.lower()
        if "yellow" in low or "green" in low:
            return (0, p)
        if "fhv" in low:
            return (1, p)
        return (2, p)

    return sorted(files, key=key)


def select_input_files(config: PipelineConfig) -> list[str]:
    """Discovery + name filter + priority sort + slice (reference S1/S5/O2/O4)."""
    files = discover_parquet_files(config.input_path)
    if config.name_filter:
        files = [f for f in files if config.name_filter in f.lower()]
    files = _priority_sort(files)
    if config.max_files is not None:
        files = files[: config.max_files]
    return files


def run_schema_check(
    spark: SparkSession,
    files: list[str],
    sample: int = 5,
    footers: dict[str, StructType | None] | None = None,
) -> dict[str, str | None]:
    """Advisory schema pre-flight (reference ``pivot_all_files.py:343-363``):
    resolve the first ``sample`` files' footer schemas and WARN about any
    whose pickup-datetime column cannot be detected, before the run spends
    cluster time. Advisory ONLY — per-file detection inside
    ``normalize_trips`` remains authoritative (a warned file may still
    resolve via the first-batch sniff fallback, and an unsampled file may
    still fail and be skip-reported). ``footers`` (from ``footer_schemas``)
    reuses footers already read; otherwise the sampled footers are read.

    Returns {file: detected_datetime_col_or_None} for the sampled files.
    """
    import warnings

    sampled = files[:sample]
    if footers is None:
        footers = footer_schemas(spark, sampled)
    results: dict[str, str | None] = {}
    for f in sampled:
        footer = footers.get(f)
        ts = resolve_trip_schema(footer) if footer is not None else None
        results[f] = ts.datetime_col if ts is not None else None
        if ts is None:
            warnings.warn(
                f"schema check: no pickup-datetime column detected in {f} "
                "(file will be retried with the first-batch sniff at ingest, "
                "then skipped if still undetectable)",
                stacklevel=2,
            )
    return results


def build_wide_plan(
    trips: DataFrame,
    min_rides: int,
    taxi_types: Sequence[str] | None = None,
) -> tuple[DataFrame, Observation, Observation]:
    """Attach audit observations and build the pivot plan.

    Returns (wide_df, ingest_observation, having_observation). The ingest
    observation yields input_rows / parse_failures / month_mismatch
    (reference A3 semantics: mismatches are COUNTED, the rows still
    aggregate); the having observation yields the low-count drop count
    (reference P3 stats dict).

    ``taxi_types`` (the driver-known label universe, from ingest) lets
    the aggregate key on a small INT code instead of the label string:
    the encoding CASE pushes through the Union and constant-folds to a
    literal per branch (labels are per-file-group literals), shaving the
    per-row string hash/compare off the hot aggregate (~20% on the
    50M-row probe); the label is decoded back per OUTPUT row. Omitted ->
    group on the string, unchanged semantics.
    """
    ingest_obs = Observation("ingest")
    # ONE timestamp decomposition per row. The naive form spends four
    # calendar conversions per row (to_date + hour for the projection,
    # year + month for the audit) — at 100M+ rows that dominates the whole
    # map phase. Instead: epoch seconds once (timestamp->long is a pure
    # integer op), date and hour by integer arithmetic (exact under the
    # UTC session timezone session.py pins; floor/pmod keep pre-1970
    # timestamps correct), and the month-mismatch audit as a half-open
    # calendar-window test on the derived DATE (make_date/add_months are
    # int calendar math, no zone lookups) — equivalent to the
    # year()/month() pair for any valid (file_year, file_month).
    secs = F.col("pickup_datetime").cast("long")
    # pickup_place keeps whatever type ingest resolved (native ints under
    # typed_place): the aggregation below keys on it, and hashing a
    # fixed-width int beats hashing a freshly-cast string ~2.5x at the
    # pivot's row rate. The string contract is restored AFTER the
    # aggregate, where it costs one cast per OUTPUT row (thousands-fold
    # fewer than input rows).
    if taxi_types:
        enc = F.when(F.col("taxi_type") == taxi_types[0], 0)
        for i, t in enumerate(taxi_types[1:], start=1):
            enc = enc.when(F.col("taxi_type") == t, i)
        type_key = enc.otherwise(len(taxi_types)).cast("int").alias("taxi_key")
    else:
        type_key = F.col("taxi_type").alias("taxi_key")
    projected = trips.select(
        type_key,
        "file_year",
        "file_month",
        F.col("pickup_datetime").isNotNull().alias("has_ts"),
        F.date_from_unix_date(F.floor(secs / F.lit(86400)).cast("int")).alias("date"),
        (F.pmod(secs, F.lit(86400)) / F.lit(3600)).cast("int").alias("hour"),
        "pickup_place",
    )
    month_start = F.make_date("file_year", "file_month", F.lit(1))
    mismatch = (
        F.col("has_ts")
        & F.col("file_year").isNotNull()
        & (
            (F.col("date") < month_start)
            | (F.col("date") >= F.add_months(month_start, 1))
        )
    )
    projected = projected.observe(
        ingest_obs,
        F.count(F.lit(1)).alias("input_rows"),
        F.sum((~F.col("has_ts")).cast("long")).alias("parse_failures"),
        F.sum(mismatch.cast("long")).alias("month_mismatch"),
    )

    prepared = projected.filter(F.col("has_ts")).select(
        "taxi_key", "date", "pickup_place", "hour"
    )
    unfiltered = pivot_counts(
        prepared,
        index_cols=["taxi_key", "date", "pickup_place"],
        bucket_col="hour",
        domain=range(24),
        prefix="hour_",
        min_total=None,
    )
    having_obs = Observation("having")
    total = row_total(HOUR_COLUMNS)
    unfiltered = unfiltered.observe(
        having_obs,
        F.sum((total < min_rides).cast("long")).alias("low_count_dropped"),
        F.sum((total >= min_rides).cast("long")).alias("kept"),
    )
    if taxi_types:
        dec = F.when(F.col("taxi_key") == 0, taxi_types[0])
        for i, t in enumerate(taxi_types[1:], start=1):
            dec = dec.when(F.col("taxi_key") == i, t)
        type_out = dec.otherwise("unknown").alias("taxi_type")
    else:
        type_out = F.col("taxi_key").alias("taxi_type")
    wide = unfiltered.filter(total >= min_rides).select(
        type_out,
        "date",
        F.col("pickup_place").cast("string").alias("pickup_place"),
        *HOUR_COLUMNS,
    )
    return wide, ingest_obs, having_obs


def run_pivot_pipeline(
    spark: SparkSession, config: PipelineConfig
) -> PipelineMetrics:
    """Execute the full pipeline; returns the observed run metrics."""
    t0 = time.time()
    files = select_input_files(config)
    # Each footer is read once, driver-side with no Spark job, and shared
    # by the pre-flight and the ingest.
    footers = footer_schemas(spark, files)
    if config.schema_check:
        run_schema_check(spark, files, footers=footers)
    trips, ingest_report = normalize_trips(
        spark, files, typed_place=True, footers=footers
    )
    types = sorted(
        {infer_taxi_type_from_path(f) for f in ingest_report.resolved}
    )
    wide, ingest_obs, having_obs = build_wide_plan(
        trips, config.min_rides, taxi_types=types or None
    )

    if config.zorder_by:
        from taxi_data_datapipeline_spark.functions.layout import zorder_dataframe

        wide = zorder_dataframe(wide, config.zorder_by, config.zorder_files)
    writer = wide.write.mode("overwrite")
    if config.partition_output_by:
        writer = writer.partitionBy(*config.partition_output_by)
    writer.parquet(config.output_path)

    ing = ingest_obs.get if files and ingest_report.resolved else {}
    hav = having_obs.get if files and ingest_report.resolved else {}
    metrics = PipelineMetrics(
        files_discovered=len(files),
        files_processed=len(ingest_report.resolved),
        files_skipped=len(ingest_report.skipped),
        input_rows=int(ing.get("input_rows") or 0),
        parse_failures=int(ing.get("parse_failures") or 0),
        month_mismatch_rows=int(ing.get("month_mismatch") or 0),
        low_count_dropped=int(hav.get("low_count_dropped") or 0),
        output_rows=int(hav.get("kept") or 0),
        wall_seconds=round(time.time() - t0, 2),
    )
    if config.report_path:
        write_report(metrics, config.report_path, config.report_format)
    return metrics


def render_report_tex(metrics: PipelineMetrics) -> str:
    """LaTeX itemize report (reference ``pivot_all_files.py:524-537``)."""
    lines = [
        "\\begin{itemize}",
        *[
            f"  \\item {k.replace('_', ' ')}: {v}"
            for k, v in asdict(metrics).items()
        ],
        "\\end{itemize}",
    ]
    return "\n".join(lines) + "\n"


def write_report(metrics: PipelineMetrics, path: str, fmt: str = "json") -> None:
    """Render metrics to JSON or .tex (reference X5)."""
    if fmt == "tex":
        body = render_report_tex(metrics)
    else:
        body = json.dumps(asdict(metrics), indent=2) + "\n"
    with open(path, "w") as fh:
        fh.write(body)

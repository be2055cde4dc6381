"""Ingest: heterogeneous trip parquet -> one canonical trips DataFrame.

Canonical trip schema (reference ``pivot_all_files.py:47-51``):

    pickup_datetime timestamp, pickup_place string, taxi_type string,
    plus path-derived audit columns file_year / file_month (nullable ints).

Strategy (SURVEY §1.3): read each file's parquet *footer* schema driver-side
with no Spark job (``footer_schemas``: the footer bytes through the
session's Hadoop ``FileSystem``, converted by Spark's own
footer-to-schema code), resolve it with the fuzzy detector, and group files
whose resolution and declared column types are identical. Every group
scans with ``spark.read.schema(pruned).parquet(*group)``, where ``pruned``
holds only the detected datetime/location/lat/lon fields as the footer
types them, so no scan infers a schema; a plain ``select`` projects each
group onto the canonical columns and ``unionByName`` joins the groups.
Catalyst prunes each scan to exactly the projected columns and pushes the
null filter down; the union is a no-shuffle narrow op.

This scales: for N files the driver does N footer reads (parallelizable,
no job, and identical-schema files collapse into one scan), while data
never leaves the executors.
"""

from __future__ import annotations

import json
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType

from taxi_data_datapipeline_spark.functions.keys import latlon_place_key, place_key
from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp
from taxi_data_datapipeline_spark.sources.paths import (
    infer_month_from_path,
    infer_taxi_type_from_path,
)
from taxi_data_datapipeline_spark.sources.schema_detect import TripSchema, resolve_trip_schema

CANONICAL_COLUMNS = ["pickup_datetime", "pickup_place", "taxi_type", "file_year", "file_month"]


@dataclass
class IngestReport:
    """Files that resolved vs were skipped (no detectable datetime column)."""

    resolved: dict[str, TripSchema]
    skipped: list[str]


class _FooterReader:
    """Driver-side Parquet footer -> Spark ``StructType``, with no Spark job.

    ``spark.read.parquet(p).schema`` launches a one-task inference job
    (``mergeSchemasInParallel``) per call. This reads the same footer
    through the session's Hadoop ``FileSystem`` (so ``s3a://`` and its
    credentials work) and converts it with Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` and a
    ``ParquetToSparkSchemaConverter`` built from the session conf: the
    type mapping is inference's, including nanosAsLong, TIMESTAMP_NTZ
    inference, INT96 and the Spark row-metadata schema key. The JVM
    handles are resolved once per reader because each py4j class lookup
    costs a round trip per package segment."""

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark._jvm
        state = spark._jsparkSession.sessionState()
        sql_conf = state.conf()
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        self._hadoop_conf = state.newHadoopConf()
        self._case_sensitive = sql_conf.caseSensitiveAnalysis()
        self._converter = parquet.ParquetToSparkSchemaConverter(sql_conf)
        self._read_footer = parquet.ParquetFooterReader.readFooter
        self._to_struct = parquet.ParquetFileFormat.readSchemaFromFooter
        self._skip_row_groups = (
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        )
        self._input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus
        self._footer = jvm.org.apache.parquet.hadoop.Footer
        self._path = jvm.org.apache.hadoop.fs.Path
        self._check_duplicates = (
            jvm.org.apache.spark.sql.util.SchemaUtils.checkSchemaColumnNameDuplication
        )

    def __call__(self, path: str) -> StructType:
        jpath = self._path(path)
        fs = jpath.getFileSystem(self._hadoop_conf)
        status = fs.getFileStatus(jpath)
        while status.isDirectory():
            # A Spark-written ``x.parquet/`` directory: like inference, read
            # one data leaf (files before subdirectories, then by name),
            # skipping ``_SUCCESS``/``.crc``-style names.
            named = ((c.getPath().getName(), c) for c in fs.listStatus(status.getPath()))
            data = sorted(
                (c.isDirectory(), n, c) for n, c in named if not n.startswith(("_", "."))
            )
            if not data:
                raise FileNotFoundError(f"no Parquet data file under {path}")
            status = data[0][2]
        meta = self._read_footer(
            self._input_file(status, self._hadoop_conf), self._skip_row_groups
        )
        jschema = self._to_struct(self._footer(status.getPath(), meta), self._converter)
        # The analysis-time check inference runs too (COLUMN_ALREADY_EXISTS
        # for a footer with case-duplicate names).
        self._check_duplicates(jschema, self._case_sensitive)
        return StructType.fromJson(json.loads(jschema.json()))


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of one Parquet file or Spark-written directory,
    read from its footer with no Spark job. Raises wherever
    ``spark.read.parquet(path).schema`` would."""
    return _FooterReader(spark)(path)


def footer_schemas(spark: SparkSession, files: list[str]) -> dict[str, StructType | None]:
    """``footer_schema`` for every file; None for a file whose footer
    cannot be read or converted (corrupt, truncated, not Parquet,
    case-duplicate names).

    Footer reads are metadata-only but latency-bound (one round trip per
    file, significant against S3 with 10^4-10^5 files), so they run on a
    driver-side thread pool."""
    read = _FooterReader(spark)

    def safe(f: str) -> StructType | None:
        try:
            return read(f)
        except Exception:
            return None

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as pool:
        return dict(zip(files, pool.map(safe, files)))


def _sniffed_scan(path: str) -> tuple[TripSchema | None, StructType | None]:
    """First-batch schema sniff — the reference's fallback when footer-only
    detection fails (``pivot_all_files.py:196-202``): open the file with the
    SECONDARY reader (pyarrow), read one <=1000-row batch and feed its
    schema to the same duck-typed detector. Catches files Spark's footer
    conversion rejects but whose needed columns are perfectly readable —
    e.g. a footer with case-duplicate column names (COLUMN_ALREADY_EXISTS)
    or an exotic unrelated column. ns timestamps are declared as LongType
    to match the session's nanosAsLong read path; coerce_timestamp's
    magnitude ladder restores them. Returns (None, None) when nothing
    detects."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        arrow_schema = next(pq.ParquetFile(path).iter_batches(batch_size=1000)).schema
        ts = resolve_trip_schema(arrow_schema)
        if ts is None:
            return None, None

        def spark_type(name: str):
            at = arrow_schema.field(name).type
            if pa.types.is_timestamp(at) and at.unit == "ns":
                return LongType()
            return from_arrow_type(at)

        return ts, _pruned_schema(ts, spark_type)
    except Exception:
        return None, None


def _pruned_schema(ts: TripSchema, type_of) -> StructType:
    """The declared scan schema: only the detected columns, each typed as
    the file's own footer (or sniffed batch) has it. The scan never touches
    a column that could break inference, and files whose physical types
    differ never share a scan."""
    cols = (ts.datetime_col, ts.location_col, ts.lat_col, ts.lon_col)
    return StructType([StructField(c, type_of(c)) for c in cols if c])


def normalize_trips(
    spark: SparkSession,
    files: list[str],
    taxi_types: dict[str, str] | None = None,
    typed_place: bool = False,
    footers: dict[str, StructType | None] | None = None,
) -> tuple[DataFrame, IngestReport]:
    """Resolve every file's schema and return one canonical trips DataFrame.

    ``taxi_types`` optionally overrides the per-file path inference.
    ``footers`` ({file: footer schema or None}, from ``footer_schemas``)
    lets a caller that already read the footers skip a second read.
    Files with no detectable datetime column, or whose footer cannot be
    read and whose first batch cannot be sniffed (corrupt, truncated, not
    parquet), are skipped (reported, not fatal) — reference behavior
    ``pivot_all_files.py:204-216``.

    ``typed_place=True`` keeps location-id place keys in their NATIVE
    integer type instead of the canonical string: hashing/comparing a
    fixed-width int in the pivot's aggregation key measures ~2.5x faster
    than the stringified form, and the pivot stringifies AFTER the
    aggregate (per output row, not per input row) so the output contract
    is unchanged. Unless every resolved file has an integral location
    column the column falls back to string: a lat/lon string key or a
    fractional id (which would widen the union and render "7" as "7.0")
    cannot share the native type.
    """
    if footers is None:
        footers = footer_schemas(spark, files)
    resolved: dict[str, TripSchema] = {}
    skipped: list[str] = []
    groups: dict[tuple, list[str]] = defaultdict(list)
    for f in files:
        footer = footers.get(f)
        if footer is not None:
            ts = resolve_trip_schema(footer)
            pruned = _pruned_schema(ts, lambda c: footer[c].dataType) if ts else None
        else:
            ts, pruned = _sniffed_scan(f)
        if ts is None:
            skipped.append(f)
            continue
        resolved[f] = ts
        ttype = (taxi_types or {}).get(f) or infer_taxi_type_from_path(f)
        # Files sharing (projection recipe, taxi type, year-month, declared
        # schema) share one scan, so every file is read with its own types.
        groups[(ts, ttype, infer_month_from_path(f), pruned)].append(f)

    typed_ok = typed_place and all(
        ts.place_mode == "location"
        and isinstance(pruned[ts.location_col].dataType, IntegralType)
        for (ts, _t, _ym, pruned) in groups
    )
    parts: list[DataFrame] = []
    for (ts, ttype, ym, pruned), group_files in groups.items():
        raw = spark.read.schema(pruned).parquet(*group_files)
        if ts.place_mode == "location":
            loc = F.col(ts.location_col)
            place = loc if typed_ok else place_key(loc)
        elif ts.place_mode == "latlon":
            place = latlon_place_key(F.col(ts.lat_col), F.col(ts.lon_col))
        else:
            place = F.lit("")
        year, month = (ym if ym is not None else (None, None))
        dt_type = pruned[ts.datetime_col].dataType
        parts.append(
            raw.select(
                coerce_timestamp(F.col(ts.datetime_col), dt_type).alias("pickup_datetime"),
                place.alias("pickup_place"),
                F.lit(ttype).alias("taxi_type"),
                F.lit(year).cast("int").alias("file_year"),
                F.lit(month).cast("int").alias("file_month"),
            )
        )

    if not parts:
        empty = spark.createDataFrame(
            [],
            "pickup_datetime timestamp, pickup_place string, taxi_type string, "
            "file_year int, file_month int",
        )
        return empty, IngestReport(resolved, skipped)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, IngestReport(resolved, skipped)

"""Bucket-count pivot — the reference's flagship computation.

Reference pipeline (``pivot_all_files.py:165-292`` + ``combine_into_wide_table
:307-340``): per batch, count rows by (taxi_type, date, pickup_place, hour);
merge partials per file; pivot hour into 24 wide ``hour_0..hour_23`` columns
with zero fill; drop rows whose horizontal total < min_rides; merge the
per-file tables with a second group-sum.

Spark collapses that whole cascade into ONE logical plan with ONE shuffle:

    groupBy(index_cols).agg(count_if(bucket = v) for v in explicit_domain)

* Catalyst plans it as partial HashAggregate (map-side: the reference's
  per-batch partial A1 — 24 counters per in-flight group) -> ONE exchange
  on the index keys -> final HashAggregate (the reference's per-file merge
  A2 + global combine A5 in one step).
* `RelationalGroupedDataset.pivot(values).count()` would plan the same
  result as TWO aggregates (agg on index+bucket, then PivotFirst regroup
  on index) = two shuffles; the conditional-aggregate form halves the
  shuffle count — measured in PLANS.md (`sql_hourly_pivot`'s FILTER
  clause compiles to exactly this shape).
* The explicit domain (0..23) guarantees all 24 columns exist even for
  hours absent from the data — the reference's zero-backfill contract
  (``pivot_utils.py:204-207``) — with no distinct-values pre-job.
* The min-total HAVING filter runs post-pivot on the wide row, exactly like
  the reference (``pivot_utils.py:211-224``); at 100 TB this is a cheap
  filter over the (much smaller) aggregated table, after the only shuffle.

Scale notes: the shuffle key is the index tuple — high cardinality
(type x date x place), so it distributes evenly; skew would only arise from a
single monster (date, place) pair, which AQE's skew handling covers. Pivot
with an explicit small domain adds 24 count slots per group to the hash map —
constant memory per group, no second shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOUR_COLUMNS = [f"hour_{h}" for h in range(24)]


def _quoted(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def row_total(columns: Sequence[str]) -> Column:
    """Horizontal sum across wide count columns (reference A6).

    Built as one SQL expression string: one py4j call instead of three
    per column (col, lit, coalesce) plus one per ``+``."""
    return F.expr(" + ".join(f"coalesce({_quoted(c)}, 0)" for c in columns))


def pivot_counts(
    df: DataFrame,
    index_cols: Sequence[str],
    bucket_col: str,
    domain: Sequence[int],
    prefix: str,
    min_total: int | None = None,
) -> DataFrame:
    """Count rows per (index_cols, bucket) and pivot bucket into wide columns.

    One shuffle (conditional aggregation over the explicit integer
    ``domain``, not `.pivot()` — see module doc). Stable output schema
    ``index_cols + [f'{prefix}{v}' for v in domain]`` with zero fill.
    Each term is one SQL expression string, so the aggregate costs one
    py4j call per column rather than one per col/lit/compare/alias.
    """
    bucket = _quoted(bucket_col)
    wide = df.groupBy(*index_cols).agg(
        *[
            F.expr(f"count_if({bucket} = {int(v)}) AS {_quoted(f'{prefix}{v}')}")
            for v in domain
        ]
    )
    if min_total is not None and min_total > 0:
        wide = wide.filter(row_total([f"{prefix}{v}" for v in domain]) >= min_total)
    return wide


def hourly_pivot(
    trips: DataFrame,
    ts_col: str = "pickup_datetime",
    place_col: str = "pickup_place",
    type_col: str = "taxi_type",
    min_rides: int = 50,
) -> DataFrame:
    """The reference's wide table: (taxi_type, date, pickup_place) x hour_0..23.

    Null timestamps are dropped (reference P2); missing cells are 0; rows with
    fewer than ``min_rides`` total trips are dropped (reference P3).
    """
    prepared = (
        trips.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(type_col).alias("taxi_type"),
            F.to_date(F.col(ts_col)).alias("date"),
            F.col(place_col).cast("string").alias("pickup_place"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
    )
    return pivot_counts(
        prepared,
        index_cols=["taxi_type", "date", "pickup_place"],
        bucket_col="hour",
        domain=range(24),
        prefix="hour_",
        min_total=min_rides,
    )


def cleanup_low_count_rows(
    wide: DataFrame, min_rides: int = 50, hour_cols: Sequence[str] | None = None
) -> tuple[DataFrame, dict[str, Column]]:
    """Standalone HAVING-on-total filter over an already-pivoted wide table.

    Returns (filtered_df, stats_exprs); feed ``stats_exprs`` to
    ``wide.agg(...)`` or ``observe`` for the dropped/kept counts the
    reference reports (``pivot_utils.py:211-224``).
    """
    cols = list(hour_cols) if hour_cols is not None else [
        c for c in wide.columns if c.startswith("hour_")
    ]
    total = row_total(cols)
    kept = wide.filter(total >= min_rides)
    stats = {
        "kept": F.sum((total >= min_rides).cast("long")).alias("kept"),
        "dropped": F.sum((total < min_rides).cast("long")).alias("dropped"),
    }
    return kept, stats

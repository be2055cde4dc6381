"""The benchmark's workloads, why each was chosen, and which end-to-end
metric each layer's per-layer metrics should move.

Every workload is a closed loop with one client: each operation starts only
after the previous one has finished, on one SparkSession (``local[nproc]``),
with no thread pool. One *iteration* is the workload's fixed list of
operations; ``clear_memos()`` runs before each so every iteration does the
same work.

End-to-end metrics (untraced run):

* ``setup_s``: median over ``N_SETUPS`` set-ups of session start (a fresh
  JVM each time) plus the cold first iteration; input generation and output
  checks are excluded.
* ``wall_s``: median time of one warm iteration.
* ``rows_per_s``: trip rows ingested per second of ``wall_s`` on
  ``pivot_etl``. Every workload must print every end-to-end metric, so the
  query workloads print the rows of the tables they read per second of
  ``wall_s``, which carries nothing beyond their ``wall_s``.
* Failures are the result line's ``failed`` out of ``attempted``: operations
  that raised or whose output differed from DuckDB. The traced run also
  reports their ratio as ``failed_frac``.

Inputs: ``pivot_etl`` writes a seeded trip set (``perfbench/data.py``). The
query workloads read the engine's own sf0.1 tables (``--tiny``: sf0.001),
byte-identical copies kept in ``perfbench/sf/`` because a run may read only
its checkout; their inputs do not depend on the seed.

``BENCHMARK.json`` lists ``pivot_etl`` and ``streaming_drain``, which
between them measure every layer; a set-up costs a JVM launch plus a cold
iteration, and the four workloads' runs do not fit the benchmark's time
budget. ``dedup_similarity`` and ``iterative_ml`` run by name.

Layer -> end-to-end map (the traced run's per-layer metrics):

* ``session.*`` (``get_spark_s``, ``cold_iteration_s``, ``jvm_peak_rss_mb``,
  ``trace_overhead_s``) should move ``setup_s`` on every workload.
* ``sources.*`` should move ``pivot_etl`` ``rows_per_s`` and nothing else.
* ``plans.*`` should move ``pivot_etl`` ``rows_per_s``.
* ``queries.<query>.pre_action_s`` should move ``iterative_ml`` ``wall_s``;
  ``queries.<query>.action_s`` should move ``dedup_similarity`` ``wall_s``.
* ``queries.*`` workload totals should move ``wall_s`` on the three query
  workloads.
* ``streaming.*`` should move ``streaming_drain`` ``wall_s``.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import data

MIN_RIDES = 50
# Copies of the engine's sf tables (sf0.1 and sf0.001) the query workloads read.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf")


@dataclass
class Ledger:
    """Operations run, raised and (after the check) found wrong."""

    runs: Counter = field(default_factory=Counter)
    raised: Counter = field(default_factory=Counter)
    wrong: set = field(default_factory=set)

    @contextmanager
    def op(self, name: str):
        self.runs[name] += 1
        try:
            yield
        except Exception:  # one failing operation must not end the run
            self.raised[name] += 1
            print(f"operation {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    def attempted(self) -> int:
        return sum(self.runs.values())

    def failed(self) -> int:
        return sum(
            self.runs[n] if n in self.wrong else self.raised[n] for n in self.runs
        )


class PivotWorkload:
    """``plans.pipeline.run_pivot_pipeline`` over a seeded trip set.

    Why: it is the reference's own job and the ROADMAP's rows/s number. Its
    work is scan, map-side work, one shuffle and a Parquet write; it touches
    no memo, no checkpoint and no Python worker, so it is the bypass
    workload for memo, job-chain and shingling optimisations.
    """

    name = "pivot_etl"
    queries: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, tiny: bool) -> None:
        self.seed = seed
        self.trips_dir = os.path.join(work, "trips")
        self.out_dir = os.path.join(work, "pivot_out")
        self.counts = data.write_trips(
            self.trips_dir, seed, 64_000 if tiny else 1_000_000, months=2
        )
        self.input_rows = self.counts.rows
        self.ledger = Ledger()
        self.reports: list = []
        self.last_ingest = None

    def iteration(self, spark, tracer=None) -> None:
        from taxi_data_datapipeline_spark.plans import pipeline

        cfg = pipeline.PipelineConfig(
            input_path=self.trips_dir, output_path=self.out_dir, min_rides=MIN_RIDES
        )
        with self.ledger.op("run_pivot_pipeline"):
            if tracer is None:
                self.reports.append(pipeline.run_pivot_pipeline(spark, cfg))
                return
            with _timed_layer_calls(pipeline, tracer) as ingest, tracer.phase(
                "pivot", "run"
            ):
                report = pipeline.run_pivot_pipeline(spark, cfg)
            self.reports.append(report)
            self.last_ingest = ingest[-1]

    def check(self, spark) -> None:
        import duckdb

        from tools.check_oracle import frame_hash

        c = self.counts
        for r in self.reports:
            got = (r.files_processed, r.files_skipped, r.input_rows,
                   r.parse_failures, r.month_mismatch_rows)
            want = (c.files, 0, c.rows, c.null_timestamps, c.month_spill_rows)
            if got != want:
                print(f"pivot_etl: counts {got} != expected {want}", file=sys.stderr)
                self.ledger.wrong.add("run_pivot_pipeline")
        con = duckdb.connect()
        hours = ", ".join(
            f"CAST(count(*) FILTER (WHERE hour(ts) = {h}) AS BIGINT) AS hour_{h}"
            for h in range(24)
        )
        con.execute(
            f"""CREATE VIEW cells AS
            WITH t AS (
              SELECT 'yellow' AS taxi_type, tpep_pickup_datetime AS ts,
                     CAST(PULocationID AS VARCHAR) AS place
              FROM read_parquet('{self.trips_dir}/yellow_*.parquet')
              UNION ALL
              SELECT 'green', lpep_pickup_datetime,
                     CAST(pickup_location_id AS VARCHAR)
              FROM read_parquet('{self.trips_dir}/green_*.parquet'))
            SELECT taxi_type, CAST(ts AS DATE) AS date, place AS pickup_place,
                   {hours}, count(*) AS total
            FROM t WHERE ts IS NOT NULL GROUP BY ALL"""
        )
        cols = ["taxi_type", "date", "pickup_place"] + [f"hour_{h}" for h in range(24)]
        sel = ", ".join(cols[:3] + [f"CAST({h} AS BIGINT) AS {h}" for h in cols[3:]])
        want = con.sql(f"SELECT {sel} FROM cells WHERE total >= {MIN_RIDES}").fetchall()
        dropped = con.sql(f"SELECT count(*) FROM cells WHERE total < {MIN_RIDES}").fetchone()[0]
        got = con.sql(f"SELECT {sel} FROM read_parquet('{self.out_dir}/*.parquet')").fetchall()
        last = self.reports[-1] if self.reports else None
        if (
            last is None
            or frame_hash(cols, got) != frame_hash(cols, want)
            or (last.output_rows, last.low_count_dropped) != (len(want), dropped)
        ):
            print("pivot_etl: output differs from the DuckDB pivot", file=sys.stderr)
            self.ledger.wrong.add("run_pivot_pipeline")

    def layer_metrics(self, tracer, cores: int) -> dict[str, float]:
        from perfbench.trace import counter_totals

        m: dict[str, float] = {}
        for key in ("select_input_files", "schema_check", "normalize_trips"):
            m[f"sources.{key}_s"] = tracer.median(lambda it, k=key: it["spans"][k])
        m["sources.files_resolved"] = float(len(self.last_ingest.resolved))
        m["sources.files_skipped"] = float(len(self.last_ingest.skipped))
        m["plans.build_wide_plan_s"] = tracer.median(lambda it: it["spans"]["build_wide_plan"])
        m["plans.write_s"] = tracer.median(
            lambda it: it["spans"]["pivot.run"] - sum(
                v for k, v in it["spans"].items() if k != "pivot.run"
            )
        )
        report = self.reports[-1]
        for key in ("input_rows", "output_rows", "parse_failures",
                    "month_mismatch_rows", "low_count_dropped"):
            m[f"plans.{key}"] = float(getattr(report, key))
        totals = {k: tracer.median(lambda it, k=k: counter_totals(tracer, it)[k])
                  for k in PLAN_COUNTERS}
        for key in PLAN_COUNTERS:
            m[f"plans.{key}"] = totals[key]
        base = tracer.median(lambda it: it["wall"]) * cores
        m["plans.core_base_s"] = base
        m["plans.core_busy_frac"] = totals["executor_run_s"] / base
        return m


PLAN_COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                 "shuffle_write_bytes", "spill_bytes", "failed_tasks",
                 "input_bytes", "output_bytes")


@contextmanager
def _timed_layer_calls(pipeline, tracer):
    """Swap the layer functions ``run_pivot_pipeline`` looks up in its module
    for timed wrappers; yields the list of ingest reports seen."""
    reports: list = []
    names = {
        "select_input_files": "select_input_files",
        "run_schema_check": "schema_check",
        "normalize_trips": "normalize_trips",
        "build_wide_plan": "build_wide_plan",
    }
    originals = {attr: getattr(pipeline, attr) for attr in names}

    def wrap(attr, span):
        fn = originals[attr]

        def timed(*args, **kwargs):
            with tracer.span(span, parent="pivot.run"):
                out = fn(*args, **kwargs)
            if attr == "normalize_trips":
                reports.append(out[1])
            return out

        return timed

    for attr, span in names.items():
        setattr(pipeline, attr, wrap(attr, span))
    try:
        yield reports
    finally:
        for attr, fn in originals.items():
            setattr(pipeline, attr, fn)


class QueryWorkload:
    """A fixed list of registered queries over the engine's sf tables; each operation
    is the query call (plan construction plus any eager jobs) followed by a
    noop-sink write of the returned DataFrame (the final action)."""

    def __init__(self, name, queries, tables, work, seed, tiny) -> None:
        self.name, self.queries = name, tuple(queries)
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        os.makedirs(self.sf_dir, exist_ok=True)
        src = os.path.join(SF_DIR, "sf0.001" if tiny else "sf0.1")
        self.input_rows = 0
        for t in tables:
            path = os.path.join(src, f"{t}.parquet")
            shutil.copy(path, self.sf_dir)
            self.input_rows += pq.ParquetFile(path).metadata.num_rows
        self.tables = tables
        self.ledger = Ledger()

    def iteration(self, spark, tracer=None) -> None:
        from taxi_data_datapipeline_spark.queries import QUERIES

        for q in self.queries:
            with self.ledger.op(q):
                if tracer is None:
                    df = QUERIES[q](spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    continue
                with tracer.phase(q, "pre"):
                    df = QUERIES[q](spark, self.sf_dir)
                with tracer.phase(q, "action"):
                    df.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> None:
        import duckdb

        from taxi_data_datapipeline_spark.queries import ORACLES, QUERIES, clear_memos
        from tools.check_oracle import frame_hash

        con = duckdb.connect()
        for t in self.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        clear_memos()
        for q in self.queries:
            with self.ledger.op(q):
                df = QUERIES[q](spark, self.sf_dir)
                got = frame_hash(df.columns, [tuple(r) for r in df.collect()])
                rel = con.sql(ORACLES[q])
                want = frame_hash(list(rel.columns), rel.fetchall())
                if got != want or sorted(df.columns) != sorted(rel.columns):
                    print(f"{self.name}: {q} differs from its DuckDB oracle", file=sys.stderr)
                    self.ledger.wrong.add(q)

    def layer_metrics(self, tracer, cores: int) -> dict[str, float]:
        from perfbench.trace import counter_totals

        m: dict[str, float] = {}
        for q in self.queries:
            m[f"queries.{q}.pre_action_s"] = tracer.median(lambda it, q=q: it["spans"][f"{q}.pre"])
            m[f"queries.{q}.action_s"] = tracer.median(lambda it, q=q: it["spans"][f"{q}.action"])
            m[f"queries.{q}.jobs"] = tracer.median(
                lambda it, q=q: it["phases"][f"{q}:pre"]["jobs"] + it["phases"][f"{q}:action"]["jobs"]
            )

        def phase_sum(it, phase):
            return sum(v for k, v in it["spans"].items() if k.endswith("." + phase))

        m["queries.pre_action_s"] = tracer.median(lambda it: phase_sum(it, "pre"))
        m["queries.action_s"] = tracer.median(lambda it: phase_sum(it, "action"))
        m["queries.unaccounted_s"] = tracer.median(
            lambda it: it["wall"] - phase_sum(it, "pre") - phase_sum(it, "action")
        )
        m["queries.pre_action_jobs"] = tracer.median(lambda it: tracer.counter_sum(it, "jobs", "pre"))
        m["queries.action_jobs"] = tracer.median(lambda it: tracer.counter_sum(it, "jobs", "action"))
        for key in QUERY_COUNTERS:
            m[f"queries.{key}"] = tracer.median(lambda it, k=key: counter_totals(tracer, it)[k])
        base = tracer.median(lambda it: it["wall"]) * cores
        m["queries.core_base_s"] = base
        m["queries.core_busy_frac"] = m["queries.executor_run_s"] / base
        m["queries.memos_released"] = tracer.median(lambda it: it["memos_released"])
        if any(q.startswith("streaming_") for q in self.queries):
            m.update(tracer.streaming_metrics())
        return m


QUERY_COUNTERS = ("tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                  "shuffle_write_bytes", "spill_bytes", "failed_tasks")

# name -> (queries in iteration order, tables they read)
QUERY_WORKLOADS = {
    # ROADMAP item 4's tier: most time is md5 shingling and LSH in the final
    # action, and it holds a memo producer and its consumer
    # (minhash_lsh_dedup -> dedup_groups_cc).
    "dedup_similarity": (("minhash_lsh_dedup", "dedup_groups_cc"), ("documents",)),
    # ROADMAP item 3's serial job chains: power iteration and Lloyd rounds run
    # as eager jobs before a small final action.
    "iterative_ml": (("pca_power_iteration", "kmeans_units"), ("embeddings",)),
    # The streaming package: AvailableNow drains, state stores and micro-batch
    # coordination; its micro-batch jobs run under their own job groups.
    "streaming_drain": (
        ("streaming_exact_dedup", "streaming_cdc_compaction"),
        ("documents", "events"),
    ),
}

WORKLOADS = ("pivot_etl", *QUERY_WORKLOADS)


def make(name: str, work: str, seed: int, tiny: bool):
    if name == PivotWorkload.name:
        return PivotWorkload(work, seed, tiny)
    queries, tables = QUERY_WORKLOADS[name]
    return QueryWorkload(name, queries, tables, work, seed, tiny)


def metric_names(queries) -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit, given the
    queries whose per-query metrics are reported."""

    def unit(n: str) -> str:
        if n.endswith("_ms"):
            return "ms"
        if n.endswith("_s"):
            return "s"
        if n.endswith("_mb"):
            return "MB"
        if n.endswith("_bytes"):
            return "bytes"
        if n.endswith("_frac"):
            return "fraction"
        return "count"

    names = ["session.get_spark_s", "session.cold_iteration_s",
             "session.jvm_peak_rss_mb", "session.trace_overhead_s", "failed_frac"]
    names += [f"sources.{k}" for k in ("select_input_files_s", "schema_check_s",
                                       "normalize_trips_s", "files_resolved",
                                       "files_skipped")]
    names += ["plans.build_wide_plan_s", "plans.write_s", "plans.input_rows",
              "plans.output_rows", "plans.parse_failures",
              "plans.month_mismatch_rows", "plans.low_count_dropped"]
    names += [f"plans.{k}" for k in PLAN_COUNTERS]
    names += ["plans.core_busy_frac", "plans.core_base_s"]
    for q in queries:
        names += [f"queries.{q}.pre_action_s", f"queries.{q}.action_s",
                  f"queries.{q}.jobs"]
    names += ["queries.pre_action_s", "queries.action_s", "queries.unaccounted_s",
              "queries.pre_action_jobs", "queries.action_jobs"]
    names += [f"queries.{k}" for k in QUERY_COUNTERS]
    names += ["queries.core_busy_frac", "queries.core_base_s",
              "queries.memos_released"]
    names += [f"streaming.{k}" for k in ("queries_started", "batches",
                                         "batch_p50_ms", "batch_max_ms",
                                         "input_rows", "state_rows")]
    return {n: unit(n) for n in names}

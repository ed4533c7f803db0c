"""The benchmark workloads: seeded inputs, one timed iteration, and the
output check of an iteration.

Each iteration calls the package's public layer functions, each call
inside a span named after the layer's module. Iterations take fresh
output directories and start from a cleared cache, so no iteration reads
what an earlier one persisted.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random

from amazon_climate_data_etl_spark.operators.climate import (
    annual_pipeline,
    daily_enriched,
    monthly_pipeline,
)
from amazon_climate_data_etl_spark.sources.ingest import (
    ingest_netcdf_to_parquet,
    municipalities_from_shapefile,
    pivot_grid_wide,
)
from amazon_climate_data_etl_spark.sources.sinks import write_partitioned
from perfbench import checks, inputs
from perfbench.trace import NoTrace

MIX_QUERIES = (
    "simhash_near_pairs",        # operators.dedup
    "ann_ivfpq_topk",            # operators.similarity
    "q20_dominant_suppliers",    # operators.joins
    "q1_pricing_summary",        # operators.relational
    "pii_scrub_docs",            # operators.textops
    "contamination_overlap",     # operators.curation
    "event_interarrival_stats",  # operators.events
)


class PipelineRaw:
    """The paper's pipeline from raw bytes: ingest x7 -> union + pivot ->
    shapefile dimension -> enrich + VPD -> annual and monthly aggregates ->
    by-state CSV sink."""

    name = "pipeline_raw"
    OPS = 1                         # operations per iteration
    START = dt.date(2001, 12, 28)   # the span crosses a year boundary
    DAYS = 8
    MUNICIPALITIES = 450

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def make_inputs(self) -> None:
        self.ci, self.nc_dir, self.shp = inputs.raw_inputs(
            self.seed, os.path.join(self.work, "in"), self.START, self.DAYS,
            self.MUNICIPALITIES)

    def iteration(self, spark, tr: NoTrace, out: str) -> list[str]:
        with tr.span(self.name):
            with tr.span("sources.ingest.netcdf"):
                for v in inputs.VARS:
                    ingest_netcdf_to_parquet(
                        spark, os.path.join(self.nc_dir, f"{v}.nc"),
                        os.path.join(out, "grid", v), v)
            with tr.span("sources.ingest.pivot") as s:
                with tr.planning(s):
                    long = None
                    for v in inputs.VARS:
                        part = spark.read.parquet(os.path.join(out, "grid", v))
                        part = part.drop("year")
                        long = part if long is None else long.unionByName(part)
                    wide = pivot_grid_wide(long)
                tr.boundary(wide, s)
            with tr.span("sources.ingest.shapefile") as s:
                dim = municipalities_from_shapefile(spark, self.shp)
                tr.boundary(dim, s)
            with tr.span("operators.climate") as s:
                with tr.planning(s):
                    daily = daily_enriched(wide, dim, step=inputs.STEP)
                    outputs = {"annual": annual_pipeline(daily),
                               "monthly": monthly_pipeline(daily)}
                for df in outputs.values():
                    tr.boundary(df, s)
            with tr.span("sources.sinks") as s:
                for label, df in outputs.items():
                    path = os.path.join(out, label)
                    write_partitioned(df, path)
                    s.files += sum(f.startswith("part-")
                                   for _, _, fs in os.walk(path) for f in fs)
        return []

    def check(self, out: str) -> list[str]:
        return checks.check_climate(self.ci, os.path.join(out, "annual"),
                                    os.path.join(out, "monthly"))


class QueryMix:
    """Registered queries, one per operator module, each run once per
    iteration in seed-shuffled order with the cache cleared before each.
    Each result is collected with ``toPandas`` and checked against its DuckDB
    twin from ``oracle_sql()``, evaluated once per process before the
    session starts."""

    name = "query_mix"
    OPS = len(MIX_QUERIES)
    DOCUMENTS = 500

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.order = random.Random(seed)
        self.results: dict = {}

    def make_inputs(self) -> None:
        import duckdb

        self.sf_dir = inputs.mix_tables(self.seed, os.path.join(self.work, "in"),
                                        self.DOCUMENTS)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        registry, oracle = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in MIX_QUERIES}
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * "
                            f"FROM read_parquet('{os.path.join(self.sf_dir, t)}')")
            self.expected = {q: con.execute(oracle[q]).df() for q in MIX_QUERIES}
        finally:
            con.close()

    def layer(self, query: str) -> str:
        return "operators." + self.fns[query].__module__.rsplit(".", 1)[-1]

    def iteration(self, spark, tr: NoTrace, out: str) -> list[str]:
        names = list(MIX_QUERIES)
        self.order.shuffle(names)
        errors = []
        with tr.span(self.name):
            for q in names:
                spark.catalog.clearCache()
                with tr.span(self.layer(q)) as s:
                    try:
                        with tr.planning(s):
                            df = self.fns[q](spark, self.sf_dir)
                        self.results[q] = df.toPandas()
                    except Exception as e:  # one failed op; the mix goes on
                        errors.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
        return errors

    def check(self, out: str) -> list[str]:
        problems = []
        for q, got in self.results.items():
            problems += checks.check_query(q, got, self.expected[q])[:1]
        self.results.clear()
        return problems


WORKLOADS = {w.name: w for w in (PipelineRaw, QueryMix)}

"""The ``catalog_batch`` workload: a fixed subset of the operator catalog
(``plans.queries.all_queries()``) over seeded tables, written to the
``noop`` sink.

Set-up writes the tables and runs one untimed warm-up pass that collects
every result; those results are checked against the catalog's DuckDB
oracles after the timed passes. Each timed pass runs the subset in an
order the seed permutes.

The subset leaves out the entries served from the persisted IVF-PQ index
(``ivfpq_*``): their oracles mirror the index build in pure Python and
take about a minute each to generate, more than a whole run may spend.
"""

from __future__ import annotations

import os
import random
import time

import checks
import gen

#: family -> catalog entries. Families name the operator groups the
#: per-layer timings are reported under.
SUBSET = {
    "tpch": ["pricing_summary", "revenue_by_nation"],
    "events": ["sessionize_events", "events_json_decode"],
    "dedup": ["minhash_lsh_pairs"],
    "ann": ["ann_ivf_topk"],
    "text": ["bm25_search_docs"],
    "graph": ["pagerank_dup_docs"],
}
FAMILY = {name: fam for fam, names in SUBSET.items() for name in names}

#: row counts of the generated tables (lineitem: about four per order),
#: about a tenth of the sf0.1 reference tables, so that a run fits the
#: benchmark's time budget (see README.md)
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "events": 10000, "documents": 500, "embeddings": 500,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


class CatalogBatch:
    def __init__(self, spark, run_dir: str, seed: int, tracer):
        from id3c_spark.plans.queries import all_queries

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(run_dir, "catalog")
        catalog = all_queries()
        self.queries = {name: catalog[name] for name in FAMILY}
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}

    def setup(self) -> None:
        gen.write_catalog_tables(self.seed, self.data_dir, ROWS)
        for name in self._order():
            try:
                self.results[name] = self.queries[name](self.spark, self.data_dir).toPandas()
            except Exception as e:  # reported as a failed query, the run goes on
                self.errors[name] = f"{type(e).__name__}: {e}"

    def _order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def run_pass(self) -> dict[str, float | None]:
        """One timed pass; query name -> wall seconds (None if it raised)."""
        times: dict[str, float | None] = {}
        for name in self._order():
            t0 = time.perf_counter()
            try:
                with self.tracer.operation("query"), self.tracer.span(f"plans.queries.{FAMILY[name]}"):
                    df = self.queries[name](self.spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                times[name] = time.perf_counter() - t0
            except Exception as e:  # reported as a failed query, the run goes on
                self.errors.setdefault(name, f"{type(e).__name__}: {e}")
                times[name] = None
        return times

    def oracle_problems(self) -> dict[str, list[str]]:
        """Query name -> problems of its warm-up result against its
        DuckDB oracle (an entry without an oracle must return rows)."""
        import duckdb

        from id3c_spark.plans.queries import LAZY_ORACLES, ORACLES

        con = duckdb.connect()
        try:
            for table in TABLES:
                path = os.path.join(self.data_dir, f"{table}.parquet")
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            out = {}
            for name in self.queries:
                if name in self.errors:
                    out[name] = [self.errors[name]]
                elif name in ORACLES or name in LAZY_ORACLES:
                    # the SQL all_oracles() gives, generated for this entry only
                    sql = ORACLES[name] if name in ORACLES else LAZY_ORACLES[name]()
                    out[name] = checks.frame_problems(self.results[name], con.sql(sql).df())
                else:
                    out[name] = [] if len(self.results[name]) else ["no rows"]
            return out
        finally:
            con.close()

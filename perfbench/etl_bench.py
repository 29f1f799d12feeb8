"""The ``etl_incremental`` workload: the cron-shaped ``id3c etl`` path,
then consumer queries over the shipping views it feeds.

Set-up mints identifiers, writes the base batch of the receiving log and
publishes the warehouse state and status markers that batch leads to
(``gen.warehouse_rows``), through ``sources.store`` with the layout the
ETLs' own bootstrap writes (clustered on each table's first merge key).

Each timed batch appends new enrollment, manifest and presence-absence
NDJSON to the receiving log and, per ETL, runs ``read_ndjson_receiving``
-> ``run_incremental`` (anti-join against the status table) ->
``etl.<name>.run`` -> status append. Its wall time runs from the append to
the last status markers (freshness). The consumer loop then queries the
shipping views over the files the write path just produced.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import checks
import gen

# sizes are chosen, not measured (see README.md)
BASE_UNITS = 2000        # visits in the base batch
BATCH_UNITS = 200        # new visits per timed batch
MAX_BATCHES = 8          # identifiers are minted for this many batches
VIEW_ROUNDS = 3          # consumer queries per view kind
REVISION = 1

#: receiving table -> (ETL name in the status table, etl module)
ETLS = {
    "enrollment": ("enrollments", "enrollments"),
    "manifest": ("manifest", "manifest"),
    "presence_absence": ("presence-absence", "presence_absence"),
}
#: the bootstrap layout of Warehouse._upsert: clustered on the first key
CLUSTER = {
    "location": ["scale", "identifier"], "site": ["identifier"],
    "individual": ["identifier"], "encounter": ["identifier"],
    "sample": ["identifier"], "target": ["identifier"],
    "presence_absence": ["identifier"], "encounter_location": None,
}
VIEW_KINDS = ["pa_by_target", "observation_by_week_site", "positives_by_week_target"]
OBSERVATION_COLUMNS = [
    "encounter", "site", "encountered_week", "age_months", "sample",
    "age_range_coarse", "residence_census_tract",
]


def _weeks() -> list[str]:
    """ISO week labels spanning the generator's encounter dates."""
    out, d = [], dt.date(2019, 9, 30)
    while d < dt.date(2020, 6, 8):
        y, w, _ = d.isocalendar()
        out.append(f"{y}-W{w:02d}")
        d += dt.timedelta(days=7)
    return out


class EtlIncremental:
    def __init__(self, spark, run_dir: str, seed: int, tracer):
        from id3c_spark.etl import enrollments, manifest, presence_absence
        from id3c_spark.etl.warehouse import Warehouse
        from id3c_spark.sources.store import ParquetTable

        self.spark = spark
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.gen = gen.Receiving(seed, BASE_UNITS, BATCH_UNITS, MAX_BATCHES)
        self.receiving = os.path.join(run_dir, "receiving")
        self.ids_path = os.path.join(run_dir, "identifiers.parquet")
        self.wh = Warehouse(spark, os.path.join(run_dir, "warehouse"))
        self.status = ParquetTable(spark, os.path.join(run_dir, "status"))
        self.modules = {
            "enrollments": enrollments, "manifest": manifest,
            "presence_absence": presence_absence,
        }
        self.batch = 0
        self.receiving_bytes = 0
        self.weeks = _weeks()

    # --- set-up -------------------------------------------------------------

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from id3c_spark import schemas

        rows = self.gen.identifier_rows()
        pq.write_table(pa.table({
            "uuid": [r[0] for r in rows],
            "barcode": [r[1] for r in rows],
            "identifier_set_id": pa.array([r[2] for r in rows], pa.int64()),
        }), self.ids_path)
        self.identifiers = self.spark.read.parquet(self.ids_path)

        self.gen.write_batch(0, self.receiving)
        base = self.gen.expected(0)
        for name, table_rows in gen.warehouse_rows(self.gen, base).items():
            df = self.spark.createDataFrame(table_rows, schemas.WAREHOUSE_SCHEMAS[name])
            self.wh.tables[name].publish(df, cluster_by=CLUSTER[name])
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        markers = [
            (f"receiving.{table}", i, etl, REVISION, "processed", None, now)
            for table, (etl, _) in ETLS.items()
            for i in range(1, base.documents[table] + 1)
        ]
        self.status.publish(self.spark.createDataFrame(markers, schemas.PROCESSING_LOG))

    # --- timed operations ---------------------------------------------------

    def run_batch(self) -> tuple[float, list[str]]:
        """Append the next batch and run the three ETLs over it. Returns
        (wall seconds, problems with the per-ETL rows seen)."""
        from id3c_spark.sources.readers import read_ndjson_receiving
        from id3c_spark.streaming.incremental import run_incremental

        tr = self.tracer
        b = self.batch + 1
        t0 = time.perf_counter()
        self.receiving_bytes += self.gen.write_batch(b, self.receiving)
        problems = []
        for table, (etl, module) in ETLS.items():
            with tr.span("sources.readers.read_ndjson_receiving"):
                receiving = read_ndjson_receiving(
                    self.spark, os.path.join(self.receiving, table)
                )

            def transform(batch, module=module):
                with tr.span(f"etl.{module}.run"):
                    self.modules[module].run(self.spark, batch, self.wh, self.identifiers)

            with tr.span("streaming.incremental.run_incremental") as rec:
                stats = run_incremental(
                    self.spark, receiving, self.status, f"receiving.{table}",
                    etl, REVISION, transform,
                )
                if rec is not None:
                    rec["rows_seen"] = stats.seen
                    rec["etl"] = module
            want = len(self.gen.batch(b)[table])
            if stats.seen != want:
                problems.append(f"{table}: run_incremental saw {stats.seen} new documents, expected {want}")
        elapsed = time.perf_counter() - t0
        self.batch = b
        return elapsed, problems

    def warehouse_problems(self) -> list[str]:
        files = {name: self.wh.tables[name].files() for name in CLUSTER}
        con = checks.warehouse_connection(files)
        try:
            ex = self.gen.expected(self.batch)
            return (checks.warehouse_problems(con, ex)
                    + checks.details_problems(con, gen.warehouse_rows(self.gen, ex)))
        finally:
            con.close()

    def view_queries(self) -> list[tuple[str, dict]]:
        """VIEW_ROUNDS queries of each kind, seeded parameters and order."""
        out = [(kind, self._view_params(kind)) for _ in range(VIEW_ROUNDS) for kind in VIEW_KINDS]
        self.rng.shuffle(out)
        return out

    def _view_params(self, kind: str) -> dict:
        if kind == "pa_by_target":
            return {
                "target": self.rng.choice(gen.TARGETS),
                "present": self.rng.choice([True, False]),
            }
        i = self.rng.randrange(len(self.weeks) - 4)
        p = {"week_lo": self.weeks[i], "week_hi": self.weeks[i + self.rng.randrange(4)]}
        if kind == "observation_by_week_site":
            p["site"] = self.rng.choice(gen.SITES)[0].lower()
        return p

    def view_query(self, kind: str, p: dict) -> tuple[float, list[tuple]]:
        """Plan, execute and collect one consumer query. Returns (wall
        seconds, rows)."""
        from pyspark.sql import functions as F

        from id3c_spark.plans import shipping

        tr = self.tracer
        read = self.wh.read
        t0 = time.perf_counter()
        with tr.span("plans.shipping.plan"):
            pa = shipping.presence_absence_result_v1(
                read("sample"), read("presence_absence"), read("target")
            )
            if kind == "pa_by_target":
                df = pa.filter((F.col("target") == p["target"]) & (F.col("present") == p["present"]))
            else:
                obs = shipping.incidence_model_observation_v2(
                    self.spark, read("encounter"), read("individual"), read("site"),
                    read("sample"), read("encounter_location"), read("location"),
                )
                weeks = F.col("encountered_week").between(p["week_lo"], p["week_hi"])
                if kind == "observation_by_week_site":
                    df = obs.filter(weeks & (F.col("site") == p["site"])).select(*OBSERVATION_COLUMNS)
                else:
                    df = (
                        shipping.observation_with_presence_absence_result_v1(obs, pa)
                        .filter(weeks)
                        .groupBy("encountered_week", "target")
                        .agg(
                            F.count("*").alias("n"),
                            F.sum(F.when(F.col("present"), 1).otherwise(0)).alias("positives"),
                        )
                    )
        with tr.span("plans.shipping.exec") as rec:
            rows = [tuple(r) for r in df.collect()]
            if rec is not None:
                rec["rows"] = len(rows)
        return time.perf_counter() - t0, rows

    def view_problems(self, queries: list[tuple[str, dict, list[tuple]]]) -> list[list[str]]:
        """Each consumer query's rows against DuckDB over the same files."""
        files = {name: self.wh.tables[name].files() for name in CLUSTER}
        con = checks.warehouse_connection(files)
        try:
            return [
                checks.rows_problems(rows, con.sql(checks.view_sql(kind, p)).fetchall())
                for kind, p, rows in queries
            ]
        finally:
            con.close()

    def table_files(self) -> int:
        return sum(len(self.wh.tables[name].files()) for name in CLUSTER)

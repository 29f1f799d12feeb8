"""Count the Spark jobs of one ``etl_incremental`` batch, per upsert.

Runs the perfbench ``etl_incremental`` set-up and one batch on a seed,
untraced, and prints:

- the batch's job count: status-tracker job ids between two marker jobs,
  each run in a job group of its own before and after the batch;
- for each ``Warehouse.upsert`` call: its table, the jobs of the job group
  it set on its calling thread, its wall time, and the ``Exchange`` and
  ``BroadcastExchange`` nodes of the plan each of its writes ran;
- for each warehouse table: its version and the sha1 of its sorted rows,
  so two checkouts can be compared table by table;
- whether the warehouse passed perfbench's DuckDB checks;
- for each of the nine shipping-view queries perfbench's consumer loop
  runs after a batch: its kind, the jobs of its job group, its wall time
  and the ``Exchange`` and ``BroadcastExchange`` nodes of the plan it
  collected, and whether its rows equal perfbench's DuckDB answer.

Run from the root of a checkout (a few GB of memory, about half a minute
on 4 cores):

    python3 tools/batch_jobs.py --seed 502

The perfbench modules are imported, not changed. Planning each written
or collected plan again to count its exchanges costs driver time; it is
left out of the upserts' and the queries' wall times, not out of the
batch's.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

#: one physical plan node that moves rows between tasks
_EXCHANGE = re.compile(r"\b(BroadcastExchange|Exchange|ReusedExchange)\b")


def exchanges(df) -> dict[str, int]:
    """Shuffle and broadcast exchanges in *df*'s physical plan (before
    adaptive execution changes it): planning only, no Spark job."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = _EXCHANGE.findall(plan)
    return {"Exchange": sum(e != "BroadcastExchange" for e in found),
            "BroadcastExchange": found.count("BroadcastExchange")}


def table_digest(df) -> str:
    """sha1 of *df*'s rows as sorted JSON lines: equal tables, equal digest."""
    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                  for r in df.collect())
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


def instrument(sc, calls: list[dict]):
    """Wrap ``Warehouse.upsert`` (a job group per call, set on the calling
    thread) and ``DataFrameWriter.parquet`` (the exchanges of each plan an
    upsert writes). Returns a function that undoes both."""
    from pyspark.sql.readwriter import DataFrameWriter

    from id3c_spark.etl.warehouse import Warehouse

    current = threading.local()
    lock = threading.Lock()
    upsert, parquet = Warehouse.upsert, DataFrameWriter.parquet

    def counted_upsert(self, name, *args, **kwargs):
        with lock:
            rec = {"table": name, "group": f"batch-jobs-upsert-{len(calls)}",
                   "writes": [], "probe_s": 0.0}
            calls.append(rec)
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(rec["group"], f"upsert {name}")
        current.rec = rec
        t0 = time.perf_counter()
        try:
            return upsert(self, name, *args, **kwargs)
        finally:
            rec["wall_s"] = time.perf_counter() - t0 - rec["probe_s"]
            current.rec = None
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def counted_parquet(self, *args, **kwargs):
        rec = getattr(current, "rec", None)
        result = parquet(self, *args, **kwargs)
        if rec is not None:
            t0 = time.perf_counter()
            rec["writes"].append(exchanges(self._df))
            rec["probe_s"] += time.perf_counter() - t0
        return result

    Warehouse.upsert, DataFrameWriter.parquet = counted_upsert, counted_parquet

    def undo():
        Warehouse.upsert, DataFrameWriter.parquet = upsert, parquet
    return undo


def view_queries(sc, w) -> tuple[list[dict], list[str]]:
    """Run *w*'s consumer queries, each in a job group of its own, with
    ``DataFrame.collect`` wrapped to count the exchanges of the plan each
    query collects. Returns one record per query and the problems of
    the queries' rows against perfbench's DuckDB answers."""
    frame = type(w.spark.range(0))  # the session's DataFrame class
    collect = frame.collect
    out: list[dict] = []

    def counted_collect(self):
        t0 = time.perf_counter()
        out[-1]["exchanges"] = exchanges(self)
        out[-1]["probe_s"] = time.perf_counter() - t0
        return collect(self)

    frame.collect = counted_collect
    answered = []
    try:
        for i, (kind, p) in enumerate(w.view_queries()):
            out.append({"kind": kind, "group": f"batch-jobs-view-{i}"})
            sc.setJobGroup(out[-1]["group"], f"view {kind}")
            try:
                wall_s, rows = w.view_query(kind, p)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            out[-1]["wall_s"] = wall_s - out[-1].pop("probe_s")
            answered.append((kind, p, rows))
    finally:
        frame.collect = collect
    problems = w.view_problems(answered)
    for rec, bad in zip(out, problems):
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec.pop("group")))
        rec["correct"] = not bad
    return out, [f"{r['kind']}: {b}" for r, bad in zip(out, problems) for b in bad]


def marker_job(sc, group: str) -> int:
    """Run one tiny job in job group *group*; returns its job id."""
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def measure(seed: int, work: str) -> dict:
    import run as bench
    from etl_bench import EtlIncremental
    from spans import NullTracer

    bench.pin_runtime(work)
    spark = bench.start_spark(work, "etl_incremental")
    try:
        sc = spark.sparkContext
        w = EtlIncremental(spark, work, seed, NullTracer())
        w.setup()
        calls: list[dict] = []
        undo = instrument(sc, calls)
        try:
            before = marker_job(sc, "batch-jobs-before")
            elapsed, problems = w.run_batch()
            after = marker_job(sc, "batch-jobs-after")
        finally:
            undo()
        problems += w.warehouse_problems()
        for rec in calls:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
        tables = {
            name: {"version": tbl.current_version(), "sha1": table_digest(tbl.read())}
            for name, tbl in sorted(w.wh.tables.items()) if tbl.exists()
        }
        views, view_problems = view_queries(sc, w)
        problems += view_problems
        return {
            "seed": seed,
            "batch_s": round(elapsed, 3),
            "batch_jobs": after - before - 1,
            "upsert_jobs": sum(r["jobs"] for r in calls),
            "correct": not problems,
            "problems": problems,
            "upserts": [
                {"table": r["table"], "jobs": r["jobs"], "wall_s": round(r["wall_s"], 3),
                 "writes": r["writes"]}
                for r in calls
            ],
            "tables": tables,
            "views": [{k: round(v, 3) if k == "wall_s" else v for k, v in r.items()}
                      for r in views],
        }
    finally:
        bench.stop_spark(spark)


def report(out: dict) -> None:
    print(f"seed {out['seed']}: batch {out['batch_s']:.2f} s, {out['batch_jobs']} jobs "
          f"({out['upsert_jobs']} in {len(out['upserts'])} upserts), correct: {out['correct']}")
    for p in out["problems"]:
        print(f"  problem: {p}")
    print(f"  {'upsert':<20} {'jobs':>4} {'wall s':>7}  exchanges per write (shuffle/broadcast)")
    for r in out["upserts"]:
        ex = " ".join(f"{w['Exchange']}/{w['BroadcastExchange']}" for w in r["writes"]) or "-"
        print(f"  {r['table']:<20} {r['jobs']:>4} {r['wall_s']:>7.2f}  {ex}")
    print(f"  {'table':<20} {'version':>7}  sha1 of sorted rows")
    for name, t in out["tables"].items():
        print(f"  {name:<20} {t['version']:>7}  {t['sha1']}")
    print(f"  {'view query':<26} {'jobs':>4} {'wall s':>7}  exchanges (shuffle/broadcast)  correct")
    for v in out["views"]:
        ex = f"{v['exchanges']['Exchange']}/{v['exchanges']['BroadcastExchange']}"
        print(f"  {v['kind']:<26} {v['jobs']:>4} {v['wall_s']:>7.2f}  {ex:<29}  {v['correct']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    work = tempfile.mkdtemp(prefix="batch_jobs-")
    try:
        out = measure(args.seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(out)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

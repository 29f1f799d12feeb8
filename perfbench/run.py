"""Benchmark runner for the id3c_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Workloads are described in perfbench/README.md. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"};
with --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes lives in
.perfbench_runs/ under the checkout; the run's own directory is removed at
exit, the span dump of a traced run is kept next to it.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
WORKLOADS = ("etl_incremental", "catalog_batch")
DRIVER_MEM_MB = 4096


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_runtime(run_dir: str) -> None:
    """Size Spark to the host it runs on and keep every file inside the run dir."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_MEM_MB, total_mb // 4)}m"
    # Python workers (Arrow UDFs) import id3c_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p
    )
    for var, sub in [
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("SPARK_GRAFT_ANN_CACHE", "ann_cache"),
        ("TMPDIR", "tmp"),
    ]:
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # the catalog's generated oracles read the same tables the queries do
    os.environ["ID3C_ORACLE_SF_DIR"] = os.path.join(run_dir, "catalog")


def start_spark(run_dir: str, workload: str):
    from id3c_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        f"perfbench-{workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def medians(samples: dict[str, list[float]]) -> dict:
    """Median metric in seconds of each non-empty sample list. A list is
    empty only when every operation of its kind raised; the run then still
    reports, with correct false, and leaves that metric out."""
    return {name: metric(statistics.median(v), "s") for name, v in samples.items() if v}


# --- workloads --------------------------------------------------------------

def run_etl(args, spark, tracer, run_dir: str, setup_done) -> dict:
    from etl_bench import MAX_BATCHES, EtlIncremental

    w = EtlIncremental(spark, run_dir, args.seed, tracer)
    w.setup()
    setup_done()
    if tracer.enabled:
        install_store_wrappers(tracer)
    out = {"attempted": 0, "failed": 0, "batch_s": [], "view_s": []}

    t0 = time.perf_counter()
    while w.batch < MAX_BATCHES:
        out["attempted"] += 1
        try:
            with tracer.operation("batch"):
                elapsed, problems = w.run_batch()
            out["batch_s"].append(elapsed)
            problems += w.warehouse_problems()
        except Exception:
            log("batch raised:\n" + traceback.format_exc())
            out["failed"] += 1
            break
        if problems:
            log(f"batch {w.batch} failed its checks: {problems}")
            out["failed"] += 1
        if time.perf_counter() - t0 >= args.seconds:
            break

    queries = []
    t0 = time.perf_counter()
    rounds = 0
    while rounds == 0 or time.perf_counter() - t0 < args.seconds:
        rounds += 1
        for kind, params in w.view_queries():
            out["attempted"] += 1
            try:
                with tracer.operation("view"):
                    elapsed, rows = w.view_query(kind, params)
            except Exception:
                log(f"view query {kind} {params} raised:\n" + traceback.format_exc())
                out["failed"] += 1
                continue
            out["view_s"].append(elapsed)
            queries.append((kind, params, rows))
    for (kind, params, _), problems in zip(queries, w.view_problems(queries)):
        if problems:
            log(f"view query {kind} {params} failed its check: {problems}")
            out["failed"] += 1

    out["metrics"] = medians({"batch_p50_s": out["batch_s"], "query_p50_s": out["view_s"]})
    out["table_files"] = w.table_files()
    out["receiving_bytes"] = w.receiving_bytes
    out["batches"] = len(out["batch_s"])
    out["views"] = len(out["view_s"])
    return out


def run_catalog(args, spark, tracer, run_dir: str, setup_done) -> dict:
    from catalog_bench import CatalogBatch

    w = CatalogBatch(spark, run_dir, args.seed, tracer)
    w.setup()
    setup_done()
    out = {"attempted": 0, "failed": 0, "pass_s": [], "query_s": [], "passes": 0}
    raised: set[str] = set()
    t0 = time.perf_counter()
    while True:
        times = w.run_pass()
        out["attempted"] += len(times)
        out["query_s"] += [t for t in times.values() if t is not None]
        raised |= {n for n, t in times.items() if t is None}
        out["failed"] += sum(t is None for t in times.values())
        if None not in times.values():
            out["pass_s"].append(sum(times.values()))
        out["passes"] += 1
        if time.perf_counter() - t0 >= args.seconds:
            break
    for name, problems in w.oracle_problems().items():
        if problems and name not in raised:
            log(f"catalog query {name} failed its oracle check: {problems}")
            out["failed"] += out["passes"]  # every timed run returned this result
    out["metrics"] = medians({"batch_p50_s": out["pass_s"], "query_p50_s": out["query_s"]})
    return out


# --- tracing ----------------------------------------------------------------

def install_store_wrappers(tracer) -> None:
    """Spans around the layers the ETLs call internally: operators.merge
    (as the warehouse calls it) and the sources.store write paths, with
    the files each write rewrote, carried forward and the bytes it wrote."""
    from id3c_spark.etl import warehouse
    from id3c_spark.sources.store import ParquetTable

    from spans import wrap

    def before(args, kwargs):
        table = args[0]
        return {os.stat(f).st_ino for f in table.files()}

    def after_for(method: str):
        def after(old, args, result):
            new = args[0].files()
            carried = [f for f in new if os.stat(f).st_ino in old]
            tracer.count("sources.store.files_carried", len(carried))
            if method == "merge_publish":
                tracer.count("sources.store.files_rewritten", len(old) - len(carried))
            tracer.count("sources.store.bytes_written", sum(
                os.path.getsize(f) for f in new if os.stat(f).st_ino not in old
            ))
        return after

    wrap(tracer, warehouse, "merge", "operators.merge.merge")
    for method in ("publish", "merge_publish", "append"):
        wrap(tracer, ParquetTable, method, f"sources.store.{method}",
             before=before, after=after_for(method))


def layer_metrics(tracer, out: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run, from the spans of its timed
    operations: ETL layers per batch, plans.shipping per consumer query,
    plans.queries per pass, engine-wide figures in total."""
    selft = tracer.self_times()
    subtree = tracer.subtree_jobs()
    spans = [s for s in tracer.spans if s["op"] is not None]
    by_id = {s["id"]: s for s in tracer.spans}
    n_batch = max(1, out.get("batches", 0))
    n_view = max(1, out.get("views", 0))
    n_pass = max(1, out.get("passes", 0))

    def self_s(name: str) -> float:
        return sum(selft[s["id"]] for s in spans if s["name"] == name)

    def incl_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def jobs(name: str) -> int:
        return sum(s["jobs"] for s in spans if s["name"] == name)

    def calls(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    c = tracer.counters
    cores = len(os.sched_getaffinity(0))
    total_jobs = sum(s["jobs"] for s in spans)
    total_tasks = sum(s["tasks"] for s in spans)
    seen = {m: sum(s.get("rows_seen", 0) for s in spans if s.get("etl") == m)
            for m in ("enrollments", "manifest", "presence_absence")}
    mark_append = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "sources.store.append" and s["parent"] is not None
        and by_id[s["parent"]]["name"] == "streaming.incremental.run_incremental"
    )
    m = {
        "session.start_s": metric(session_s, "s"),
        "sources.readers.read_ndjson_s": metric(self_s("sources.readers.read_ndjson_receiving") / n_batch, "s"),
        "sources.readers.jobs": metric(jobs("sources.readers.read_ndjson_receiving") / n_batch, "count"),
        "streaming.incremental.unprocessed_s": metric(self_s("streaming.incremental.run_incremental") / n_batch, "s"),
        "streaming.incremental.mark_append_s": metric(mark_append / n_batch, "s"),
        "streaming.incremental.rows_seen": metric(sum(seen.values()) / n_batch, "count"),
        "etl.jobs_per_batch": metric(sum(
            subtree[s["id"]] for s in spans if s["name"].startswith("etl.")
        ) / n_batch, "count"),
        "operators.merge.merge_s": metric(self_s("operators.merge.merge") / n_batch, "s"),
        "operators.merge.calls": metric(calls("operators.merge.merge") / n_batch, "count"),
        "operators.merge.jobs": metric(jobs("operators.merge.merge") / n_batch, "count"),
        "sources.store.merge_publish_s": metric(self_s("sources.store.merge_publish") / n_batch, "s"),
        "sources.store.publish_s": metric(self_s("sources.store.publish") / n_batch, "s"),
        "sources.store.append_s": metric(self_s("sources.store.append") / n_batch, "s"),
        "sources.store.files_rewritten": metric(c["sources.store.files_rewritten"] / n_batch, "count"),
        "sources.store.files_carried": metric(c["sources.store.files_carried"] / n_batch, "count"),
        "sources.store.write_amplification": metric(
            c["sources.store.bytes_written"] / out["receiving_bytes"]
            if out.get("receiving_bytes") else 0.0, "ratio"),
        "sources.store.table_files": metric(out.get("table_files", 0), "count"),
        "plans.shipping.plan_s": metric(self_s("plans.shipping.plan") / n_view, "s"),
        "plans.shipping.exec_s": metric(self_s("plans.shipping.exec") / n_view, "s"),
        "plans.shipping.jobs_per_query": metric(
            (jobs("plans.shipping.plan") + jobs("plans.shipping.exec")) / n_view, "count"),
        "plans.shipping.rows_returned": metric(
            sum(s.get("rows", 0) for s in spans if s["name"] == "plans.shipping.exec") / n_view,
            "count"),
    }
    for module in ("enrollments", "manifest", "presence_absence"):
        name = f"etl.{module}.run"
        m[f"{name}_s"] = metric(self_s(name) / n_batch, "s")
        m[f"etl.{module}.rows_per_s"] = metric(
            seen[module] / incl_s(name) if incl_s(name) else 0.0, "1/s")
    for fam in ("tpch", "events", "dedup", "ann", "text", "graph"):
        m[f"plans.queries.{fam}_s"] = metric(self_s(f"plans.queries.{fam}") / n_pass, "s")
    m["plans.queries.jobs"] = metric(
        sum(jobs(f"plans.queries.{f}") for f in ("tpch", "events", "dedup", "ann", "text", "graph"))
        / n_pass, "count")
    m.update({
        "spark.jobs": metric(total_jobs, "count"),
        "spark.tasks": metric(total_tasks, "count"),
        "spark.tasks_per_job": metric(total_tasks / total_jobs if total_jobs else 0.0, "count"),
        "jvm.cpu_s": metric(tracer.op_jvm_s, "s"),
        "jvm.cpu_util": metric(tracer.op_jvm_s / (tracer.op_wall_s * cores), "ratio"),
        "driver.cpu_s": metric(tracer.op_driver_s, "s"),
        "trace.bookkeeping_s": metric(tracer.bookkeeping_s, "s"),
    })
    # the end-to-end figures as the traced run saw them: minus the
    # untraced run's figures, this is the tracing overhead
    for name, v in out["metrics"].items():
        m[f"trace.{name}"] = v
    return m


# --- entry point --------------------------------------------------------------

def run(args, run_dir: str) -> dict:
    from spans import CpuClock, NullTracer, Tracer

    t_session = time.perf_counter()
    spark = start_spark(run_dir, args.workload)
    session_s = time.perf_counter() - t_session
    try:
        sc = spark.sparkContext
        gateway_proc = getattr(sc._gateway, "proc", None)
        clock = CpuClock(gateway_proc.pid if gateway_proc else None)
        tracer = Tracer(sc, clock) if args.trace else NullTracer()
        setup_s = []

        def setup_done() -> None:
            setup_s.append(time.perf_counter() - START)
            log("set-up done")

        body = run_etl if args.workload == "etl_incremental" else run_catalog
        out = body(args, spark, tracer, run_dir, setup_done)
        log("measured and checked")
    finally:
        stop_spark(spark)
    log("spark stopped")

    out["metrics"] = {"setup_s": metric(setup_s[0], "s"), **out["metrics"]}
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"], "failed": out["failed"]}
    log(f"{args.workload} seed={args.seed}: attempted={out['attempted']} failed={out['failed']} "
        f"failed_op_share={out['failed'] / out['attempted']:.4f} "
        + " ".join(f"{k}={v['value']:.4f}{v['unit']}" for k, v in out["metrics"].items()))
    if args.trace:
        result["metrics"] = layer_metrics(tracer, out, session_s)
        tracer.dump(os.path.join(RUNS, "traces", f"{os.path.basename(run_dir)}.json"))
    else:
        result["metrics"] = out["metrics"]
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "id3c_spark", "session.py")):
        log(f"no id3c_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        pin_runtime(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Physical-plan fact extraction — the 100 TB-shape evidence engine.

``plan_facts`` parses a printed Spark physical plan into the counters
that matter at scale: shuffle exchanges, broadcast exchanges (small-side
joins working as intended), reused exchange/stage sites, distinct
whole-stage-codegen spans, parquet scan sites, InMemoryTableScan sites
(a persist() actually cutting recomputation), and whether any scan has
pushed filters.  ``audit_query`` runs a catalog query (optionally
executing it through the noop sink so AQE finalizes the plan) and
returns the facts.

Used by the ``id3c explain`` CLI: users get the audited plan facts per
query on demand.  Nothing here touches a timed
path — explain builds its own plan and (optionally) a one-off noop
write.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession


def plan_facts(plan: str) -> dict:
    """Counters over a PRINTED plan tree.  Under AQE a shared
    shuffle/broadcast stage reprints its subtree at every reuse site, so
    shuffle/scan counts are upper bounds — ``cached``
    (InMemoryTableScan) shows where a persist() actually cut
    recomputation."""
    lines = plan.splitlines()
    strip = [ln.lstrip("+-*: (0123456789) ") for ln in lines]
    return {
        "shuffles": sum(s.startswith("Exchange") for s in strip),
        "broadcasts": sum(s.startswith("BroadcastExchange") for s in strip),
        "reused": sum(
            s.startswith("ReusedExchange") or s.startswith("ReusedQueryStage")
            for s in strip
        ),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "cached": sum("InMemoryTableScan" in ln for ln in lines),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "aqe_final": "isFinalPlan=true" in plan,
        "scans": sum(
            "FileScan parquet" in ln or "Scan parquet" in ln for ln in lines
        ),
    }


def audit_query(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    execute: bool = True,
    include_plan: bool = False,
) -> dict:
    """Plan facts for catalog query *name* over *sf_dir*.

    *execute* runs the query through the noop sink first so the printed
    plan is the AQE-FINAL one (runtime coalesce, skew splits, broadcast
    demotions all settled) — the same discipline as the committed
    per-round artifact.  ``execute=False`` skips the run and reports the
    pre-execution plan (cheap, but AQE counters are provisional)."""
    from id3c_spark.plans.queries import all_queries

    df = all_queries()[name](spark, sf_dir)
    if execute:
        df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    facts = plan_facts(plan)
    facts["query"] = name
    facts["executed"] = execute
    # estimated bytes behind the plan's file scans (driver-side listing,
    # strided sample — the same statistic the GEMM shard sizing uses):
    # at 100 TB "how much will this read" is the first admission question
    from id3c_spark.operators.ann import source_bytes

    facts["input_bytes"] = source_bytes(df)
    if include_plan:
        facts["plan"] = plan
    return facts

"""The shipping views give the same rows in both execution regimes.

Each view decides from its inputs (``ann.fits_one_task``) whether it runs
in one task or distributed; the ``regime`` fixture forces each. Over a
small file-backed warehouse, the three views and the positives-per-week
aggregate perfbench queries must return equal rows and the same schema
either way, and a one-task presence-absence or observation query must
plan no exchange and run as one Spark job.

The fixture covers the edges of the view texts: age-bin bounds and a
null age, ISO weeks at a year boundary, a sample known only by its
collection identifier, an encounter without a sample, a control target,
and residences with several, null and non-residence tracts.
"""

from __future__ import annotations

import datetime as dt
import json
import re

import pytest

from id3c_spark import schemas
from id3c_spark.plans import shipping

T = dt.datetime

ROWS = {
    "site": [(1, "clinic", None), (2, "school", None)],
    "individual": [(1, "ind-a", "female", None), (2, "ind-b", None, None),
                   (3, "ind-c", "male", None)],
    "encounter": [
        # 2019-12-30 is ISO 2020-W01, 2021-01-03 ISO 2020-W53
        (1, "enc-1", 1, 1, T(2019, 12, 30, 8), 0, None),
        (2, "enc-2", 2, 2, T(2021, 1, 3, 23), 1080, None),
        (3, "enc-3", 3, 1, T(2020, 3, 4), None, None),
        (4, "enc-4", 1, 2, T(2020, 3, 5), 59, None),
        (5, "enc-5", 2, 1, T(2020, 3, 6), 780, None),
    ],
    "sample": [
        (1, "s-1", "c-1", 1, None, None, None),
        (2, None, "c-2", 2, None, None, None),       # collection identifier only
        (3, "s-3", None, 3, None, None, None),
        (4, "s-4", "c-4", 5, None, None, None),
        (5, "s-5", None, None, None, None, None),    # no encounter
    ],
    "target": [(1, "Flu_A_pan", False), (2, "RSV", False), (3, "Xeno", True)],
    "presence_absence": [
        (1, "pa-1", 1, 1, True, None), (2, "pa-2", 1, 2, False, None),
        (3, "pa-3", 1, 3, True, None), (4, "pa-4", 2, 1, None, None),
        (5, "pa-5", 3, 2, True, None), (6, "pa-6", 5, 1, True, None),
    ],
    "location": [
        (10, "tract-b", "tract", {"tract": "tract-b"}, None, None, None, None),
        (11, "tract-a", "tract", {"tract": "tract-a"}, None, None, None, None),
        (12, "addr-1", "address", {"tract": "tract-c"}, None, None, None, None),
        (13, "addr-2", "address", {"county": "k"}, None, None, None, None),
    ],
    "encounter_location": [
        (1, "residence", 10, None), (1, "lodging", 11, None),  # least tract wins
        (2, "residence", 12, None), (2, "work", 11, None),
        (3, "residence", 13, None), (3, "lodging", 12, None),  # null tract first
        (4, "work", 10, None),                                   # no residence
    ],
    "organism": [
        (1, "Influenza.A", {"target": "Flu_A_pan"}, None),
        (2, "RSV", {"target": "RSV"}, None),
    ],
}


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """Each table written as parquet and read back: file-backed frames."""
    root = tmp_path_factory.mktemp("shipping")
    out = {}
    for name, rows in ROWS.items():
        path = str(root / name)
        spark.createDataFrame(rows, schemas.WAREHOUSE_SCHEMAS[name]).coalesce(1) \
            .write.parquet(path)
        out[name] = spark.read.parquet(path)
    return out


def build(spark, f) -> dict:
    """The three views and perfbench's positives aggregate over *f*."""
    from pyspark.sql import functions as F

    pa = shipping.presence_absence_result_v1(f["sample"], f["presence_absence"], f["target"])
    obs = shipping.incidence_model_observation_v2(
        spark, f["encounter"], f["individual"], f["site"], f["sample"],
        f["encounter_location"], f["location"],
    )
    joined = shipping.observation_with_presence_absence_result_v1(obs, pa)
    return {
        "presence_absence_result_v1": pa,
        "presence_absence_with_organism": shipping.presence_absence_result_v1(
            f["sample"], f["presence_absence"], f["target"], f["organism"]),
        "incidence_model_observation_v2": obs,
        "observation_without_residence": shipping.incidence_model_observation_v2(
            spark, f["encounter"], f["individual"], f["site"], f["sample"]),
        "observation_with_presence_absence_result_v1": joined,
        "positives_by_week_target": joined.groupBy("encountered_week", "target").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("present"), 1).otherwise(0)).alias("positives"),
        ),
    }


def rows_of(df) -> list[str]:
    return sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in df.collect())


def jobs_of(spark, df, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_shipping_regimes_agree(spark, frames, regime):
    results = {}
    for one_task in (True, False):
        with regime(one_task):
            views = build(spark, frames)
        results[one_task] = {name: (df.schema, rows_of(df)) for name, df in views.items()}

        if one_task:
            for name in ("presence_absence_result_v1", "incidence_model_observation_v2"):
                plan = views[name]._jdf.queryExecution().executedPlan().toString()
                assert not re.search(r"\b(Exchange|BroadcastExchange)\b", plan), plan
                assert jobs_of(spark, views[name], f"shipping-regimes-{name}") == 1

    for name in results[True]:
        assert results[True][name] == results[False][name], name

    _, obs_rows = results[True]["incidence_model_observation_v2"]
    obs = {r["encounter"]: r for r in map(json.loads, obs_rows)}
    assert [obs[f"enc-{i}"]["encountered_week"] for i in (1, 2)] == ["2020-W01", "2020-W53"]
    assert [obs[f"enc-{i}"]["age_range_fine"] for i in (1, 2, 3, 4)] == \
        ["[0,1)", "[1080,)", None, "[48,60)"]
    assert [obs[f"enc-{i}"]["age_range_coarse"] for i in (1, 4, 5)] == \
        ["[0,6)", "[6,60)", "[780,)"]
    assert [obs[f"enc-{i}"]["sample"] for i in (1, 2, 4)] == ["s-1", "c-2", None]
    assert [obs[f"enc-{i}"]["residence_census_tract"] for i in (1, 2, 3, 4)] == \
        ["tract-a", "tract-c", None, None]

    pa = [json.loads(r) for r in results[True]["presence_absence_with_organism"][1]]
    assert {(r["sample"], r["target"], r["organism"]) for r in pa} == {
        ("s-1", "Flu_A_pan", "Influenza.A"), ("s-1", "RSV", "RSV"),
        ("c-2", "Flu_A_pan", "Influenza.A"), ("s-3", "RSV", "RSV"),
        ("s-5", "Flu_A_pan", "Influenza.A"),
    }
    assert results[True]["presence_absence_result_v1"][0].names == ["sample", "target", "present"]

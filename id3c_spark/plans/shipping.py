"""Shipping views — the consumer-facing analytical layer (SURVEY §3.3).

Reference views (schema/deploy/shipping/):
  - presence_absence_result_v1: sample ⋈ presence_absence ⋈ target
    ⟕ organism, filtered target.control = false (views.sql:17-28)
  - incidence_model_observation_v2: encounter ⋈ individual ⋈ site
    ⟕ sample, age-bin range joins, ISO week label, residence-tract
    extraction, lateral JSON response decode (views@2020-01-14b.sql:17-100)
  - observation_with_presence_absence_result: the two joined on sample
  - primary_encounter_location: DISTINCT ON top-1 by relation priority
    (primary-encounter-location.sql:6-15)

Each view is one SQL text over the warehouse frames, bound as
``spark.sql`` arguments; register with ``create_views`` to expose them to
spark.sql consumers. Versioned names (``_v1``) mirror the reference's
view-versioning discipline.

Two regimes, one text per view. When ``ann.fits_one_task`` passes for
every input of a view, the view runs in one task: each input is read as
one partition (``COALESCE(1)``) and every join is a hash join of
one-partition children (``SHUFFLE_HASH``, which adds no exchange over
such children), so a query of a small warehouse is one Spark job with no
exchange. A join whose children are one partition does not always report
one partition itself (an inner join, or an outer join the optimizer
turned inner), so each select over a join coalesces again. Otherwise
the view runs distributed and broadcasts its dimension tables (site,
target, organism). The regimes differ only in the hints filled into the
text. Age bins are ``CASE`` expressions over the constant bin lists, so
neither regime joins them.
"""

from __future__ import annotations

from string import Template

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from id3c_spark.operators import ann
from id3c_spark.operators.topk import distinct_on

# age-bin seed data (shipping/age-bin-v2.sql:16-39, FIXTURES §1.2)
AGE_BIN_FINE_V2 = [
    (0, 1), (1, 6), (6, 12), (12, 24), (24, 36), (36, 48), (48, 60),
    (60, 72), (72, 84), (84, 96), (96, 108), (108, 120), (120, 180),
    (180, 240), (240, 360), (360, 480), (480, 600), (600, 720),
    (720, 840), (840, 960), (960, 1080), (1080, None),
]
AGE_BIN_COARSE_V2 = [(0, 6), (6, 60), (60, 216), (216, 780), (780, None)]

#: the hints of each regime (True: one task), by ``$`` slot of a view's
#: text: ``fact`` heads the select of each input and of each join,
#: ``dim`` that of each dimension table. A hint without a relation name
#: applies to the select it heads; it is lost in a ``WITH`` clause, so
#: the texts nest their selects instead.
_ONE_TASK = "/*+ SHUFFLE_HASH, COALESCE(1) */"
_HINTS = {
    True: {"fact": _ONE_TASK, "dim": _ONE_TASK},
    False: {"fact": "", "dim": "/*+ BROADCAST */"},
}


def _age_bin(bins) -> str:
    """The label of the bin [lo, hi) that holds ``age_months`` (a null hi
    is unbounded above), null when none does: the reference's
    ``range @> age`` (views@2020-01-14b.sql:175-176) over constant bins."""
    whens = " ".join(
        f"WHEN age_months >= {lo}" + (f" AND age_months < {hi}" if hi is not None else "")
        + f" THEN '[{lo},{'' if hi is None else hi})'"
        for lo, hi in bins
    )
    return f"CASE {whens} END"


_PRESENCE_ABSENCE = """
SELECT v.*$organism_column FROM (
    SELECT $fact sample, target, present FROM (
        SELECT $fact sample, target_id, present
        FROM (SELECT $fact sample_id, coalesce(identifier, collection_identifier) AS sample
              FROM {sample}) s
        JOIN (SELECT $fact sample_id, target_id, present FROM {presence_absence}) pa
        USING (sample_id)
    ) sp
    JOIN (SELECT $dim target_id, identifier AS target, control FROM {target}) t
    USING (target_id)
    WHERE NOT control
) v $organism
"""

# target ⟕ organism by identifier map (views.sql joins organism lineage
# through target; simplified to identifier equality here)
_ORGANISM = """LEFT JOIN (
    SELECT $dim lineage AS organism, identifiers['target'] AS target FROM {organism}
) o ON o.target = v.target"""

_OBSERVATION = f"""
SELECT * FROM (
    SELECT $fact encounter_id, encounter, individual, sex, site,
           -- to_char(encountered, 'IYYY-"W"IW'), as functions.strings.iso_week_label
           concat(extract(YEAROFWEEK FROM to_date(encountered)), '-W',
                  lpad(weekofyear(to_date(encountered)), 2, '0')) AS encountered_week,
           age_months, sample,
           {_age_bin(AGE_BIN_FINE_V2)} AS age_range_fine,
           {_age_bin(AGE_BIN_COARSE_V2)} AS age_range_coarse
    FROM (
        SELECT $fact * FROM (
            SELECT $fact *
            FROM (SELECT $fact encounter_id, identifier AS encounter, individual_id, site_id,
                         encountered, age_months
                  FROM {{encounter}}) e
            JOIN (SELECT $fact individual_id, identifier AS individual, sex
                  FROM {{individual}}) i
            USING (individual_id)
        ) ei
        JOIN (SELECT $dim site_id, identifier AS site FROM {{site}}) st USING (site_id)
    ) eis
    LEFT JOIN (SELECT $fact encounter_id, coalesce(identifier, collection_identifier) AS sample
               FROM {{sample}}) sa
    USING (encounter_id)
) obs $residence
"""

# residence census tract: hierarchy->'tract' of the residence location
# (views@2020-01-14b.sql:59-71), the least per encounter
_RESIDENCE = """LEFT JOIN (
    SELECT $fact encounter_id, residence_census_tract FROM (
        SELECT *, row_number() OVER (
            PARTITION BY encounter_id ORDER BY residence_census_tract) AS rn
        FROM (
            SELECT $fact encounter_id, element_at(hierarchy, 'tract') AS residence_census_tract
            FROM (SELECT $fact encounter_id, location_id FROM {encounter_location}
                  WHERE relation IN ('residence', 'lodging')) el
            JOIN (SELECT $fact location_id, hierarchy FROM {location}) l
            USING (location_id)))
    WHERE rn = 1
) r USING (encounter_id)"""

_OBSERVATION_WITH_RESULT = """
SELECT $fact * FROM {observation} JOIN {pa_result} USING (sample)
"""


def _view(spark: SparkSession, text: str, fragments: dict[str, str], **inputs) -> DataFrame:
    """*text* as one plan over *inputs* (``{name}`` slots), with its ``$``
    slots filled by *fragments* and the regime's hints: one task when
    every input fits one (``ann.fits_one_task``), else distributed."""
    one_task = all(ann.fits_one_task(df) for df in inputs.values())
    hints = _HINTS[one_task]
    filled = {k: Template(v).substitute(hints) for k, v in fragments.items()}
    return spark.sql(Template(text).substitute(hints, **filled), **inputs)


def presence_absence_result_v1(
    sample: DataFrame, presence_absence: DataFrame, target: DataFrame,
    organism: DataFrame | None = None,
) -> DataFrame:
    """views.sql:17-28: non-control results with sample + target context."""
    inputs = {"sample": sample, "presence_absence": presence_absence, "target": target}
    fragments = {"organism_column": "", "organism": ""}
    if organism is not None:
        inputs["organism"] = organism
        fragments = {"organism_column": ", o.organism", "organism": _ORGANISM}
    return _view(sample.sparkSession, _PRESENCE_ABSENCE, fragments, **inputs)


def primary_encounter_location(
    encounter_location: DataFrame, relations: DataFrame
) -> DataFrame:
    """DISTINCT ON (encounter_id) ORDER BY priority NULLS LAST."""
    joined = encounter_location.join(F.broadcast(relations), "relation", "left")
    return distinct_on(
        joined, ["encounter_id"],
        [F.col("priority").asc_nulls_last(), F.col("relation")],
    ).select("encounter_id", "relation", "location_id")


def incidence_model_observation_v2(
    spark: SparkSession,
    encounter: DataFrame,
    individual: DataFrame,
    site: DataFrame,
    sample: DataFrame,
    encounter_location: DataFrame | None = None,
    location: DataFrame | None = None,
) -> DataFrame:
    """views@2020-01-14b.sql:17-100 re-expressed: star join + ISO week +
    age bins + residence tract (when both encounter_location and
    location are given)."""
    inputs = {"encounter": encounter, "individual": individual, "site": site, "sample": sample}
    fragments = {"residence": ""}
    if encounter_location is not None and location is not None:
        inputs.update(encounter_location=encounter_location, location=location)
        fragments = {"residence": _RESIDENCE}
    return _view(spark, _OBSERVATION, fragments, **inputs)


def observation_with_presence_absence_result_v1(
    observation: DataFrame, pa_result: DataFrame
) -> DataFrame:
    """views@2020-01-14b.sql:232-244: observation ⋈ result USING (sample)."""
    return _view(observation.sparkSession, _OBSERVATION_WITH_RESULT, {},
                 observation=observation, pa_result=pa_result)


def create_views(spark: SparkSession, warehouse_frames: dict[str, DataFrame]) -> None:
    """Register the shipping view stack as temp views for SQL consumers."""
    wf = warehouse_frames
    pa = presence_absence_result_v1(wf["sample"], wf["presence_absence"], wf["target"])
    pa.createOrReplaceTempView("presence_absence_result_v1")
    obs = incidence_model_observation_v2(
        spark, wf["encounter"], wf["individual"], wf["site"], wf["sample"],
        wf.get("encounter_location"), wf.get("location"),
    )
    obs.createOrReplaceTempView("incidence_model_observation_v2")
    observation_with_presence_absence_result_v1(obs, pa).createOrReplaceTempView(
        "observation_with_presence_absence_result_v1"
    )

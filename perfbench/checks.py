"""Output checks. Each reads the program's outputs with DuckDB (warehouse
parquet, shipping-view results, catalog results) and returns a list of
problems; an empty list means the output is correct. Nothing here imports
the engine, so a check cannot share a bug with the code it checks.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from gen import Expected


def warehouse_connection(files: dict[str, list[str]]) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the data files of each warehouse table."""
    con = duckdb.connect()
    for name, paths in files.items():
        if not paths:
            raise FileNotFoundError(f"warehouse table {name} has no data files")
        listed = ", ".join(f"'{p}'" for p in paths)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{listed}])")
    return con


def _diff(what: str, got: dict, want: dict, problems: list[str]) -> None:
    if got == want:
        return
    missing = [k for k in want if k not in got][:3]
    extra = [k for k in got if k not in want][:3]
    wrong = [(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]][:3]
    problems.append(
        f"{what}: {len(got)} rows, expected {len(want)}; missing {missing} "
        f"extra {extra} wrong {wrong}"
    )


def warehouse_problems(con: duckdb.DuckDBPyConnection, ex: Expected) -> list[str]:
    """Warehouse row counts, keys and key values against the generator's
    expectation."""
    problems: list[str] = []

    def rows(sql: str) -> list[tuple]:
        return con.sql(sql).fetchall()

    def keyed(sql: str) -> dict:
        out = rows(sql)
        got = {r[0]: (r[1:] if len(r) > 2 else r[1]) for r in out}
        if len(got) != len(out):
            problems.append(f"duplicate keys in: {sql.split()[1]}...")
        return got

    _diff("site", {r[0]: None for r in rows("SELECT identifier FROM site")},
          dict.fromkeys(ex.sites), problems)
    _diff("individual", keyed("SELECT identifier, sex FROM individual"),
          ex.individuals, problems)
    _diff("encounter", keyed("""
        SELECT e.identifier, i.identifier, s.identifier, e.age_months
        FROM encounter e
        JOIN individual i USING (individual_id)
        JOIN site s USING (site_id)"""),
          {k: v[:3] for k, v in ex.encounters.items()}, problems)
    _diff("address", keyed(
        "SELECT identifier, element_at(hierarchy, 'tract')[1] FROM location "
        "WHERE scale = 'address'"), ex.addresses, problems)
    _diff("encounter_location", keyed("""
        SELECT e.identifier, l.identifier
        FROM encounter_location el
        JOIN encounter e USING (encounter_id)
        JOIN location l USING (location_id)
        WHERE el.relation = 'residence'"""), ex.encounter_locations, problems)
    _diff("sample", keyed("""
        SELECT s.collection_identifier, s.identifier, CAST(s.collected AS VARCHAR),
               e.identifier
        FROM sample s LEFT JOIN encounter e USING (encounter_id)"""),
          {k: v[:3] for k, v in ex.samples.items()}, problems)
    _diff("target", keyed("SELECT identifier, control FROM target"), ex.targets, problems)
    _diff("presence_absence", keyed("""
        SELECT pa.identifier, pa.present,
               coalesce(s.identifier, s.collection_identifier), t.identifier
        FROM presence_absence pa
        JOIN sample s USING (sample_id)
        JOIN target t USING (target_id)"""), ex.presence_absence, problems)
    return problems


#: table -> (key column, key position, details position) in the rows of
#: gen.warehouse_rows
_DETAILS = {
    "site": ("identifier", 1, 2),
    "encounter": ("identifier", 1, 6),
    "sample": ("collection_identifier", 2, 5),
    "presence_absence": ("identifier", 1, 5),
}


def details_problems(con: duckdb.DuckDBPyConnection, rows: dict[str, list[tuple]]) -> list[str]:
    """The ``details`` text of every row against ``gen.warehouse_rows``.
    Text, not JSON value: the warehouse merge rewrites a row whose merged
    details text differs, so a base state whose text the ETLs would not
    write makes a batch rewrite rows it should leave alone."""
    problems: list[str] = []
    for table, (key, k, d) in _DETAILS.items():
        got = dict(con.sql(f"SELECT {key}, details FROM {table}").fetchall())
        _diff(f"{table}.details", got, {r[k]: r[d] for r in rows[table]}, problems)
    return problems


# --- shipping views ---------------------------------------------------------

#: incidence_model_observation_v2 re-expressed over the warehouse tables
#: (schema/deploy/shipping views): ISO week label, coarse age bin and the
#: residence census tract
_OBSERVATION = """
    WITH residence AS (
        SELECT el.encounter_id,
               min(element_at(l.hierarchy, 'tract')[1]) AS residence_census_tract
        FROM encounter_location el JOIN location l USING (location_id)
        WHERE el.relation IN ('residence', 'lodging')
        GROUP BY el.encounter_id
    )
    SELECT e.identifier AS encounter, st.identifier AS site,
           strftime(e.encountered, '%G-W%V') AS encountered_week,
           e.age_months,
           coalesce(sa.identifier, sa.collection_identifier) AS sample,
           CASE WHEN e.age_months < 6 THEN '[0,6)'
                WHEN e.age_months < 60 THEN '[6,60)'
                WHEN e.age_months < 216 THEN '[60,216)'
                WHEN e.age_months < 780 THEN '[216,780)'
                WHEN e.age_months >= 780 THEN '[780,)' END AS age_range_coarse,
           r.residence_census_tract
    FROM encounter e
    JOIN individual i USING (individual_id)
    JOIN site st USING (site_id)
    LEFT JOIN sample sa USING (encounter_id)
    LEFT JOIN residence r USING (encounter_id)
"""

_PA_RESULT = """
    SELECT coalesce(s.identifier, s.collection_identifier) AS sample,
           t.identifier AS target, pa.present
    FROM sample s
    JOIN presence_absence pa USING (sample_id)
    JOIN target t USING (target_id)
    WHERE NOT t.control
"""


def view_sql(kind: str, p: dict) -> str:
    """DuckDB oracle for one consumer query (see ``etl_bench.view_query``)."""
    if kind == "pa_by_target":
        present = "pa.present IS NULL" if p["present"] is None else f"pa.present = {p['present']}"
        return f"{_PA_RESULT} AND t.identifier = '{p['target']}' AND {present}"
    if kind == "observation_by_week_site":
        return (
            f"SELECT * FROM ({_OBSERVATION}) WHERE site = '{p['site']}' "
            f"AND encountered_week BETWEEN '{p['week_lo']}' AND '{p['week_hi']}'"
        )
    if kind == "positives_by_week_target":
        return f"""
            SELECT o.encountered_week, r.target, count(*) AS n,
                   sum(CASE WHEN r.present THEN 1 ELSE 0 END) AS positives
            FROM ({_OBSERVATION}) o JOIN ({_PA_RESULT}) r USING (sample)
            WHERE o.encountered_week BETWEEN '{p['week_lo']}' AND '{p['week_hi']}'
            GROUP BY 1, 2"""
    raise ValueError(f"unknown view query {kind}")


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def rows_problems(got: list[tuple], want: list[tuple]) -> list[str]:
    """Multiset equality of two row lists (order-free)."""
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    g = sorted((tuple(_canon(x) for x in r) for r in got), key=key)
    w = sorted((tuple(_canon(x) for x in r) for r in want), key=key)
    if g == w:
        return []
    first = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
    return [
        f"{len(g)} rows, oracle {len(w)}; first difference at {first}: "
        f"{g[first] if first < len(g) else None} vs {w[first] if first < len(w) else None}"
    ]


# --- catalog queries --------------------------------------------------------

def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact comparison of a catalog result with its DuckDB oracle: same
    columns, same row count, same values once rows are sorted (the rule
    the catalog's oracles are written to).

    This restates ``compare`` of tools/verify_local.py rather than
    importing it: that module puts a fixed absolute path first on
    ``sys.path`` and imports the engine when it is loaded, so importing it
    would let later imports resolve outside the checkout and would tie
    these checks to the code they check."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows vs oracle {len(want)}"]

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    g, w = norm(got), norm(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c], w[c])):
            same = x == y or (pd.isna(x) and pd.isna(y))
            if not same:
                return [f"column {c} row {i}: {x!r} vs oracle {y!r}"]
    return []

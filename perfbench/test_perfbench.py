"""Self-tests of the benchmark's generator and output checks. They need no
Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

#: warehouse columns, in schema order, as gen.warehouse_rows emits them
COLUMNS = {
    "location": ["location_id", "identifier", "scale", "hierarchy", "point_wkt",
                 "polygon_wkt", "simplified_polygon_wkt", "details"],
    "site": ["site_id", "identifier", "details"],
    "individual": ["individual_id", "identifier", "sex", "details"],
    "encounter": ["encounter_id", "identifier", "individual_id", "site_id",
                  "encountered", "age_months", "details"],
    "encounter_location": ["encounter_id", "relation", "location_id", "details"],
    "sample": ["sample_id", "identifier", "collection_identifier", "encounter_id",
               "collected", "details", "access_role"],
    "target": ["target_id", "identifier", "control"],
    "presence_absence": ["presence_absence_id", "identifier", "sample_id",
                         "target_id", "present", "details"],
}
TYPES = {
    "hierarchy": pa.map_(pa.string(), pa.string()),
    "point_wkt": pa.string(), "polygon_wkt": pa.string(),
    "simplified_polygon_wkt": pa.string(), "details": pa.string(),
    "access_role": pa.string(), "sex": pa.string(), "present": pa.bool_(),
}


def small() -> gen.Receiving:
    return gen.Receiving(seed=5, base_units=60, batch_units=20, max_batches=3)


def log_bytes(g: gen.Receiving, tmp_path, name: str) -> dict[str, bytes]:
    out = {}
    for b in range(g.max_batches + 1):
        g.write_batch(b, str(tmp_path / name))
    for root, _, files in os.walk(tmp_path / name):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), tmp_path / name)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_log(tmp_path):
    assert log_bytes(small(), tmp_path, "a") == log_bytes(small(), tmp_path, "b")
    assert small().identifier_rows() == small().identifier_rows()


def test_different_seed_gives_different_log(tmp_path):
    other = gen.Receiving(seed=6, base_units=60, batch_units=20, max_batches=3)
    a, b = log_bytes(small(), tmp_path, "a"), log_bytes(other, tmp_path, "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_batches_carry_corrections_and_skip_documents():
    g = small()
    docs = g.batch(2)
    assert len(docs["manifest"]) > g.batch_units          # re-sent manifests
    assert any('"store"' in d for d in docs["presence_absence"])
    assert any('"sampleFailed": true' in d for d in docs["presence_absence"])
    assert any('"0.9.0"' in d for d in docs["enrollment"])
    # a re-test changes an earlier result
    before, after = g.expected(1).presence_absence, g.expected(2).presence_absence
    assert any(after[k][0] != v[0] for k, v in before.items())


def test_barcodes_are_unique():
    rows = small().identifier_rows()
    assert len({r[1] for r in rows}) == len(rows)


def write_warehouse(g: gen.Receiving, last_batch: int, root) -> dict[str, list[str]]:
    """Warehouse parquet holding exactly the expected state."""
    files = {}
    for name, rows in gen.warehouse_rows(g, g.expected(last_batch)).items():
        cols = COLUMNS[name]
        arrays = [
            pa.array([r[i] for r in rows], TYPES.get(c)) for i, c in enumerate(cols)
        ]
        path = str(root / f"{name}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=cols), path)
        files[name] = [path]
    return files


def test_warehouse_check_passes_on_expected_state(tmp_path):
    g = small()
    con = checks.warehouse_connection(write_warehouse(g, 2, tmp_path))
    assert checks.warehouse_problems(con, g.expected(2)) == []
    assert checks.details_problems(con, gen.warehouse_rows(g, g.expected(2))) == []


def test_details_are_written_as_the_merge_writes_them():
    g = small()
    rows = gen.warehouse_rows(g, g.expected(2))
    for table, pos in [("sample", 5), ("presence_absence", 5)]:
        for r in rows[table]:
            assert r[pos] == gen.canonical(json.loads(r[pos]))
    assert all('"sequencing_call":{}' in r[5] for r in rows["sample"])
    walk_in = next(r for r in rows["encounter"] if r[1].startswith("enc-walkin-"))
    assert json.loads(walk_in[6])["age"]["value"] > 0


@pytest.mark.parametrize("table", ["encounter", "sample", "presence_absence"])
def test_details_check_catches_non_canonical_text(tmp_path, table):
    g = small()
    files = write_warehouse(g, 2, tmp_path)
    con = checks.warehouse_connection(files)
    con.sql(f"CREATE TABLE t AS SELECT * FROM {table}")
    con.sql("UPDATE t SET details = replace(details, ',', ', ') WHERE identifier = "
            "(SELECT min(identifier) FROM t)")
    con.sql(f"COPY t TO '{files[table][0]}' (FORMAT parquet)")
    con.close()
    con = checks.warehouse_connection(files)
    assert checks.warehouse_problems(con, g.expected(2)) == []
    assert checks.details_problems(con, gen.warehouse_rows(g, g.expected(2)))


@pytest.mark.parametrize("table, corrupt", [
    ("presence_absence", "UPDATE t SET present = NOT present WHERE identifier = "
                         "(SELECT min(identifier) FROM t WHERE present)"),
    ("encounter", "DELETE FROM t WHERE identifier = (SELECT max(identifier) FROM t)"),
    ("sample", "UPDATE t SET collected = collected + 1 WHERE collection_identifier = "
               "(SELECT min(collection_identifier) FROM t)"),
    ("target", "INSERT INTO t SELECT 99, 'Bogus', false"),
])
def test_warehouse_check_catches_corrupted_output(tmp_path, table, corrupt):
    g = small()
    files = write_warehouse(g, 2, tmp_path)
    con = checks.warehouse_connection(files)
    con.sql(f"CREATE TABLE t AS SELECT * FROM {table}")
    con.sql(corrupt)
    con.sql(f"COPY t TO '{files[table][0]}' (FORMAT parquet)")
    con.close()
    assert checks.warehouse_problems(checks.warehouse_connection(files), g.expected(2))


def test_warehouse_check_catches_a_stale_state(tmp_path):
    g = small()
    con = checks.warehouse_connection(write_warehouse(g, 1, tmp_path))
    assert checks.warehouse_problems(con, g.expected(2))


def test_view_oracle_and_row_comparison(tmp_path):
    g = small()
    con = checks.warehouse_connection(write_warehouse(g, 1, tmp_path))
    params = {"week_lo": "2019-W40", "week_hi": "2020-W20", "site": "hmc"}
    rows = con.sql(checks.view_sql("observation_by_week_site", params)).fetchall()
    assert rows and checks.rows_problems(list(reversed(rows)), rows) == []
    wrong = [rows[0][:3] + (rows[0][3] + 1,) + rows[0][4:]] + rows[1:]
    assert checks.rows_problems(wrong, rows)
    assert checks.rows_problems(rows[1:], rows)
    agg = con.sql(checks.view_sql("positives_by_week_target", params)).fetchall()
    assert agg and all(n >= positives for _, _, n, positives in agg)
    pa_rows = con.sql(checks.view_sql(
        "pa_by_target", {"target": "RSV", "present": True})).fetchall()
    assert pa_rows and all(r[1:] == ("RSV", True) for r in pa_rows)


def test_catalog_comparison_catches_a_changed_value():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    assert checks.frame_problems(want.iloc[::-1].reset_index(drop=True), want) == []
    changed = want.copy()
    changed.loc[1, "v"] = 1.5000001
    assert checks.frame_problems(changed, want)
    assert checks.frame_problems(want.iloc[:2], want)
    assert checks.frame_problems(want.rename(columns={"v": "w"}), want)


def test_catalog_tables_are_seeded(tmp_path):
    rows = {"customer": 50, "supplier": 10, "part": 40, "orders": 100,
            "events": 200, "documents": 30, "embeddings": 20}
    gen.write_catalog_tables(1, str(tmp_path / "a"), rows)
    gen.write_catalog_tables(1, str(tmp_path / "b"), rows)
    gen.write_catalog_tables(2, str(tmp_path / "c"), rows)
    a = pq.read_table(str(tmp_path / "a" / "lineitem.parquet"))
    assert a.equals(pq.read_table(str(tmp_path / "b" / "lineitem.parquet")))
    assert not a.equals(pq.read_table(str(tmp_path / "c" / "lineitem.parquet")))

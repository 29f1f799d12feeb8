"""REDCap DET framework, location import, stateful streaming, column glob."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from id3c_spark import schemas
from id3c_spark.etl import redcap_det
from id3c_spark.etl.location_import import import_locations, stage_features
from id3c_spark.etl.warehouse import Warehouse
from id3c_spark.sources.readers import select_columns_glob

URL = "https://redcap.example.edu/api/"


def det(record, instrument="symptom_survey", complete="2", project="123"):
    return {
        "redcap_url": URL, "project_id": project, "record": str(record),
        "instrument": instrument, f"{instrument}_complete": complete,
    }


def test_redcap_det_pipeline(spark):
    docs = [
        det(1), det(1),                     # repeat DET: first wins
        det(2, complete="0"),               # incomplete → skipped
        det(3),
        det(9, project="999"),              # other project → not selected
    ]
    receiving = spark.createDataFrame(
        [(i + 1, json.dumps(d)) for i, d in enumerate(docs)], "id long, document string"
    )

    seen = {}

    @redcap_det.command_for_project(URL, 123)
    def my_etl(spark_, records):
        seen["records"] = records
        return len(records)

    api = redcap_det.FakeRedcapApi(records={"1": {"record": "1", "age": "34"},
                                            "3": {"record": "3", "age": "7"}},
                                   batch_size=1)
    stats = redcap_det.run(spark, receiving, URL, 123, api)
    assert stats["dets"] == 4               # project filter applied
    assert stats["complete_records"] == 2   # record 1 deduped, record 2 gated
    assert stats["fetched"] == 2
    assert stats["api_calls"] == 2          # batch_size=1 → one call per record
    assert stats["transform_result"] == 2

    with pytest.raises(KeyError):
        redcap_det.run(spark, receiving, URL, 777, api)


class _StubRedcap:
    """In-process REDCap API stub: parses the form-encoded POST contract of
    lib/id3c/cli/redcap.py:538-563 and serves a 5-record project."""

    def __init__(self):
        import http.server
        import threading
        import urllib.parse

        self.requests: list[dict] = []
        self.data = {
            str(i): {"record_id": str(i), "age": str(20 + i),
                     "survey_complete": "2" if i % 2 else "0"}
            for i in range(1, 6)
        }
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"])).decode()
                form = {k: v[0] for k, v in urllib.parse.parse_qs(body).items()}
                stub.requests.append(form)
                content = form.get("content")
                if form.get("token") != "sekrit":
                    out, code = {"error": "bad token"}, 403
                elif content == "project":
                    out, code = {
                        "project_id": "123", "project_title": "Stub Study",
                        "record_autonumbering_enabled": 1, "is_longitudinal": 0,
                    }, 200
                elif content == "metadata":
                    out, code = [{"field_name": "record_id"}, {"field_name": "age"}], 200
                elif content == "instrument":
                    out, code = [{"instrument_name": "survey"}], 200
                elif content == "generateNextRecordName":
                    out, code = 6, 200
                elif content == "version":
                    self.send_response(200)
                    self.end_headers()
                    self.wfile.write(b"14.5.10")
                    return
                elif content == "log":
                    events = getattr(stub, "log_events", None)
                    if events is not None and form.get("logtype") == "record_delete":
                        out, code = events, 200
                    else:
                        out, code = [{"action": "export", "user": form.get("user")}], 200
                elif content == "record" and "data" in form:
                    out, code = {"count": len(json.loads(form["data"]))}, 200
                elif content == "record":
                    rows = list(stub.data.values())
                    if "records" in form:
                        wanted = set(form["records"].split(","))
                        rows = [r for r in rows if r["record_id"] in wanted]
                    if "filterLogic" in form:
                        import re
                        lo = re.search(r">= (\d+)", form["filterLogic"])
                        hi = re.search(r"< (\d+)", form["filterLogic"])
                        rows = [
                            r for r in rows
                            if int(r["record_id"]) >= int(lo.group(1))
                            and (hi is None or int(r["record_id"]) < int(hi.group(1)))
                        ]
                    out, code = rows, 200
                else:
                    out, code = {"error": f"unknown content {content}"}, 400
                payload = json.dumps(out).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(payload)

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"

    def close(self):
        self.server.shutdown()


def test_redcap_http_client_paging_and_parity():
    from id3c_spark.sources.redcap import RedcapProject

    stub = _StubRedcap()
    try:
        p = RedcapProject(stub.url, 123, token="sekrit")
        assert p.title == "Stub Study"
        assert p.record_id_field == "record_id"
        assert p.instruments == ["survey"]
        assert p.events == []                      # not longitudinal
        assert p.redcap_version == "14.5.10"

        # wrong project id → the reference's token-safety assertion
        with pytest.raises(AssertionError, match="actually for project"):
            RedcapProject(stub.url, 999, token="sekrit")

        # paged fetch: next id 6, page_size 2 → pages [1,3) [3,5) [5,∞)
        rows = list(p.records(page_size=2, raw=True))
        assert [r["record_id"] for r in rows] == ["1", "2", "3", "4", "5"]
        filters = [r["filterLogic"] for r in stub.requests if "filterLogic" in r]
        assert filters == [
            "[record_id] >= 1 and [record_id] < 3",
            "[record_id] >= 3 and [record_id] < 5",
            "[record_id] >= 5",
        ]

        # id-restricted fetch through the DET-adapter surface, batch parity
        p.batch_size = 2
        fetched = p.fetch(["1", "3", "5"])
        assert [r["record_id"] for r in fetched] == ["1", "3", "5"]

        # logs parameter mapping (redcap.py:141-212)
        logs = p.logs(log_type="export", user="ada", since_date="2024-01-01 00:00:00")
        assert logs[0]["user"] == "ada"
        log_req = stub.requests[-1]
        assert (log_req["logtype"], log_req["beginTime"]) == ("export", "2024-01-01 00:00:00")

        # update_records: count check + dry_run short-circuit
        assert p.update_records([{"record_id": "1", "age": "44"}]) == 1
        p.dry_run = True
        n_before = len(stub.requests)
        assert p.update_records([{"record_id": "1"}, {"record_id": "2"}]) == 2
        assert len(stub.requests) == n_before      # no API call in dry-run
    finally:
        stub.close()


def test_redcap_det_generation():
    """DET generation parity (cli/command/redcap_det.py:61-128,
    redcap.py:680-901): complete-only by default, include-incomplete flag,
    unknown-instrument assertion, reference DET shape."""
    from id3c_spark.sources import redcap as rc

    assert rc.is_complete("t", {"t_complete": "Complete"}) is True
    assert rc.is_complete("t", {"t_complete": 2}) is True
    assert rc.is_complete("t", {"t_complete": "2"}) is True
    assert rc.is_complete("t", {"t_complete": "Incomplete"}) is False
    assert rc.is_complete("t", {}) is None

    stub = _StubRedcap()
    try:
        p = rc.RedcapProject(stub.url, 123, token="sekrit")
        dets = list(rc.generate_dets(p, ["1", "2"]))
        assert [d["record"] for d in dets] == ["1"]     # record 2 incomplete
        d = dets[0]
        assert d["redcap_url"] == p.base_url
        assert d["project_id"] == "123" and d["instrument"] == "survey"
        assert d["survey_complete"] == "2"
        assert "__generated_by__" in d

        both = list(rc.generate_dets(p, ["1", "2"], include_incomplete=True))
        assert [d["record"] for d in both] == ["1", "2"]

        # all records, no id filter: odd record ids are the complete ones
        alles = list(rc.generate_dets(p))
        assert [d["record"] for d in alles] == ["1", "3", "5"]

        with pytest.raises(AssertionError, match="aren't in the REDCap project"):
            list(rc.generate_dets(p, instruments=["nope"]))
        with pytest.raises(ValueError, match="id \\*and\\* date"):
            list(rc.generate_dets(p, ["1"], since_date="2024-01-01 00:00:00"))
    finally:
        stub.close()


def test_redcap_http_client_drives_det_etl(spark):
    """RedcapProject drops in for FakeRedcapApi in the DET pipeline."""
    from id3c_spark.sources.redcap import RedcapProject

    stub = _StubRedcap()
    try:
        api = RedcapProject(stub.url, 123, token="sekrit")
        docs = [det(1), det(3)]
        receiving = spark.createDataFrame(
            [(i + 1, json.dumps(d)) for i, d in enumerate(docs)],
            "id long, document string",
        )

        @redcap_det.command_for_project(URL, 123)
        def my_etl(spark_, records):
            return sorted(r["record_id"] for r in records)

        stats = redcap_det.run(spark, receiving, URL, 123, api)
        assert stats["fetched"] == 2
        assert stats["transform_result"] == ["1", "3"]
    finally:
        stub.close()


FEATURES = {
    "type": "FeatureCollection",
    "features": [
        {"id": "53033000100", "properties": {"scale": "tract",
                                             "hierarchy": "country => us, state => wa"},
         "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
        {"id": "53033000200", "properties": {"scale": "tract", "hierarchy": None},
         "geometry": {"type": "MultiPolygon",
                      "coordinates": [[[[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]]]]}},
    ],
}


def test_location_import_modes(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    staged = stage_features(spark, FEATURES)
    stats = import_locations(spark, wh, staged, mode="update")
    assert stats["staged"] == 2 and stats["with_polygon"] == 2
    assert stats["with_hierarchy"] == 1 and stats["total_locations"] == 2

    locs = {r.identifier: r for r in wh.read("location").collect()}
    assert locs["53033000100"].hierarchy == {"country": "us", "state": "wa"}

    # re-import with extended hierarchy → right-biased concat
    feats2 = json.loads(json.dumps(FEATURES))
    feats2["features"][0]["properties"]["hierarchy"] = "state => or, tract => 53033000100"
    import_locations(spark, wh, stage_features(spark, feats2), mode="update")
    h = {r.identifier: r.hierarchy for r in wh.read("location").collect()}
    assert h["53033000100"] == {"country": "us", "state": "or", "tract": "53033000100"}

    # on-conflict-do-nothing mode: existing rows untouched
    feats3 = json.loads(json.dumps(FEATURES))
    feats3["features"][0]["properties"]["hierarchy"] = "state => zz"
    import_locations(spark, wh, stage_features(spark, feats3), mode="nothing")
    h2 = {r.identifier: r.hierarchy for r in wh.read("location").collect()}
    assert h2["53033000100"]["state"] == "or"

    # EPSG:3857 now re-projects (geo.mercator_to_wgs84); a CRS we can't
    # handle still fails loudly
    with pytest.raises(ValueError):
        stage_features(spark, {"crs": {"properties": {"name": "EPSG:2926"}}, "features": []})


def test_stage_features_utm_reprojection(spark):
    """A UTM zone 10N (EPSG:32610) feature stages as WGS84 lng/lat — the
    general-CRS path the reference covers with fiona/PROJ."""
    from id3c_spark.geo import register_crs_transform, wgs84_to_utm

    lng, lat = -122.3321, 47.6062  # Seattle, squarely in UTM zone 10
    e, n = wgs84_to_utm(10)(lng, lat)
    fc = {
        "crs": {"properties": {"name": "urn:ogc:def:crs:EPSG::32610"}},
        "features": [{
            "id": "seattle",
            "properties": {"scale": "city", "hierarchy": None},
            "geometry": {"type": "Point", "coordinates": [e, n]},
        }],
    }
    staged = stage_features(spark, fc).collect()
    x, y = map(float, staged[0].polygon_wkt[len("POINT ("):-1].split())
    assert abs(x - lng) < 1e-6 and abs(y - lat) < 1e-6

    # injectable transform: a made-up EPSG code works once registered
    register_crs_transform(999001, lambda x, y: (x / 10.0, y / 10.0))
    fc2 = {
        "crs": {"properties": {"name": "EPSG:999001"}},
        "features": [{
            "id": "p",
            "properties": {},
            "geometry": {"type": "Point", "coordinates": [-1223.3, 476.1]},
        }],
    }
    out = stage_features(spark, fc2).collect()[0].polygon_wkt
    assert out == "POINT (-122.33 47.61)"


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionization driven by a rate-free memory
    stream: two batches; a session stays open across batches, closes on gap."""
    from id3c_spark.streaming.stateful import sessionize_stateful

    src = tmp_path / "stream"
    src.mkdir()
    # batch 1: user 7 events at t0, t0+10min
    (src / "b1.json").write_text(
        '{"user_id": 7, "ts": "2024-01-01T00:00:00Z"}\n'
        '{"user_id": 7, "ts": "2024-01-01T00:10:00Z"}\n'
    )
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
        q = (
            sessionize_stateful(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == 0           # session still open

    # batch 2: an event 2h later → closes the first session
    (src / "b2.json").write_text('{"user_id": 7, "ts": "2024-01-01T02:30:00Z"}\n')
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    assert rows[0].n_events == 2
    assert str(rows[0].session_start).startswith("2024-01-01 00:00")
    assert str(rows[0].session_end).startswith("2024-01-01 00:10")


def test_streaming_window_agg_drops_late_beyond_watermark(spark, tmp_path):
    """Watermarked tumbling-window aggregation: a row arriving after the
    watermark horizon passed its window is dropped; rows inside the
    horizon still count. Two availableNow runs over one checkpoint so the
    watermark persists between deliveries."""
    from id3c_spark.streaming.stateful import streaming_event_counts

    src = tmp_path / "stream"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"event_type": "click", "value": 1.0, "ts": "2024-01-01T10:00:10Z"}\n'
        '{"event_type": "click", "value": 2.0, "ts": "2024-01-01T10:01:00Z"}\n'
        '{"event_type": "click", "value": 4.0, "ts": "2024-01-01T10:59:00Z"}\n'
    )
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(
            "event_type string, value double, ts timestamp"
        ).json(str(src))
        q = (
            streaming_event_counts(stream, window="5 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # watermark advances to 10:49 after this delivery
    (src / "b2.json").write_text(
        # late: its 10:00 window closed at watermark 10:49 → dropped
        '{"event_type": "click", "value": 64.0, "ts": "2024-01-01T10:02:00Z"}\n'
        # on time: advances the watermark and opens a new window
        '{"event_type": "click", "value": 8.0, "ts": "2024-01-01T11:30:00Z"}\n'
    )
    run_once()
    rows = {
        str(r.window_start): r for r in spark.read.parquet(out_dir).collect()
    }
    early = rows["2024-01-01 10:00:00"]
    assert early.n == 2 and early.sum_value == 3.0   # late 64.0 NOT added


def test_streaming_dedup_drops_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered document (same content
    hash) inside the watermark horizon is emitted once."""
    from id3c_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "stream"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"doc_hash": "aaa", "payload": "v1", "ts": "2024-01-01T00:00:00Z"}\n'
        '{"doc_hash": "bbb", "payload": "v2", "ts": "2024-01-01T00:01:00Z"}\n'
    )
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(
            "doc_hash string, payload string, ts timestamp"
        ).json(str(src))
        q = (
            streaming_dedup(stream, ["doc_hash"], watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # batch 2: re-delivery of aaa (within watermark) + one new doc
    (src / "b2.json").write_text(
        '{"doc_hash": "aaa", "payload": "v1-redelivered", "ts": "2024-01-01T00:05:00Z"}\n'
        '{"doc_hash": "ccc", "payload": "v3", "ts": "2024-01-01T00:06:00Z"}\n'
    )
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert {r.doc_hash for r in rows} == {"aaa", "bbb", "ccc"}
    assert len(rows) == 3                      # aaa emitted exactly once
    by_hash = {r.doc_hash: r.payload for r in rows}
    assert by_hash["aaa"] == "v1"              # first arrival won


def test_select_columns_glob(spark):
    df = spark.createDataFrame([(1, 2, 3, 4)], "Barcode_ID int, Aliquot_A int, Aliquot_B int, Notes int")
    out = select_columns_glob(df, "barcode*", "aliquot*")
    assert out.columns == ["Barcode_ID", "Aliquot_A", "Aliquot_B"]
    with pytest.raises(KeyError):
        select_columns_glob(df, "nonexistent*")


def test_redcap_sync_delete_end_to_end(spark, tmp_path, monkeypatch):
    """id3c redcap-sync delete (reference redcap_sync.py:144-384): fetch
    record_delete log events from a (stub) REDCap server, find matching
    encounters by LIKE ANY, cascade-delete linked rows and orphans.
    dry-run (default) deletes nothing; --commit publishes the cascade."""
    import id3c_spark.cli as cli_module
    from click.testing import CliRunner

    stub = _StubRedcap()
    try:
        base_url = stub.url + "/"
        stub.log_events = [
            {"action": "Delete record (record 2)", "record": "2",
             "timestamp": "2026-08-10 12:00:00"},
        ]

        wh_dir = str(tmp_path / "wh")
        wh = Warehouse(spark, wh_dir)
        # encounter identifiers use the reference's {base_url}{pid}/{record}/...
        # shape; record 2's encounter is doomed, record 1's survives
        import datetime

        ts = datetime.datetime(2026, 1, 1)
        wh.publish("encounter", spark.createDataFrame(
            [(1, f"{base_url}123/1/aaa", 10, 1, ts, None, None),
             (2, f"{base_url}123/2/bbb", 11, 1, ts, None, None)],
            schemas.WAREHOUSE_SCHEMAS["encounter"]))
        wh.publish("sample", spark.createDataFrame(
            [(1000, "s-1", None, 2, None, '{"coding": [], "note": "x"}', None),
             (1001, "s-2", None, 2, None, '{"note": "x", "lims": true}', None)],
            schemas.WAREHOUSE_SCHEMAS["sample"]))
        # presence_absence as two files clustered on its merge key
        wh.tables["presence_absence"].publish(spark.createDataFrame(
            [(1, "pa-1", 1000, 5, True, None), (2, "pa-2", 1001, 5, False, None)]
            + [(i, f"pa-{i}", 1000, i, False, None) for i in range(3, 9)],
            schemas.WAREHOUSE_SCHEMAS["presence_absence"]),
            cluster_by=["identifier"], partitions=2)
        wh.publish("individual", spark.createDataFrame(
            [(10, "i-10", "male", None), (11, "i-11", "female", None)],
            schemas.WAREHOUSE_SCHEMAS["individual"]))
        wh.publish("site", spark.createDataFrame(
            [(1, "hmc", None)], schemas.WAREHOUSE_SCHEMAS["site"]))
        assert len(wh.tables["presence_absence"].files()) == 2

        def versions():
            return {name: tbl.current_version() for name, tbl in wh.tables.items()}

        seeded = versions()

        runner = CliRunner()

        def run(*flags):
            res = runner.invoke(cli_module.cli, [
                "redcap-sync", "delete", "--api-url", stub.url,
                "--project-id", "123", "--token", "sekrit",
                "--warehouse", wh_dir, "--log-identifiers", *flags,
            ])
            assert res.exit_code == 0, res.output
            lines = [json.loads(l) for l in res.output.strip().splitlines()]
            return lines[0], lines[-1]

        idents, out = run()                         # default --dry-run
        assert idents["identifiers"] == [f"{base_url}123/2/%"]
        assert out["committed"] is False
        assert out["deletion_events"] == 1
        assert out["encounter"] == 1
        # nothing published: both encounters still present
        assert wh.read("encounter").count() == 2
        assert versions() == seeded

        _, out2 = run("--commit")
        assert out2["committed"] is True
        assert {r.encounter_id for r in wh.read("encounter").collect()} == {1}
        # REDCap-provenance sample 1000 deleted with its pa row; lab
        # sample 1001 survives unlinked with note dropped
        samples = {r.sample_id: r for r in wh.read("sample").collect()}
        assert set(samples) == {1001}
        assert samples[1001].encounter_id is None
        assert json.loads(samples[1001].details) == {"lims": True}
        assert {r.presence_absence_id
                for r in wh.read("presence_absence").collect()} == {2}
        # individual 11 orphaned by enc-2's deletion; 10 still referenced
        assert {r.individual_id for r in wh.read("individual").collect()} == {10}
        # only the changed tables moved, in one snapshot
        moved = {name for name, v in versions().items() if v != seeded[name]}
        assert moved == {"encounter", "sample", "presence_absence", "individual"}
        # the rewritten presence_absence is still clustered on its key
        ranges = sorted(
            wh.tables["presence_absence"]._footer_range(f, "identifier")
            for f in wh.tables["presence_absence"].files()
        )
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    finally:
        stub.close()


def test_streaming_funnel_stateful(spark, tmp_path):
    """Per-user funnel progress carried in state across micro-batches;
    completion emits exactly once."""
    from id3c_spark.streaming.stateful import funnel_stateful

    src = tmp_path / "fstream"
    src.mkdir()
    out_dir = str(tmp_path / "fout")

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, event_type string"
        ).json(str(src))
        q = (
            funnel_stateful(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "fckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: signup + click for user 1; full chain OUT OF ORDER for
    # user 2 (purchase before click in event time → no completion)
    (src / "b1.json").write_text(
        '{"user_id": 1, "ts": "2024-01-01T00:00:00Z", "event_type": "signup"}\n'
        '{"user_id": 1, "ts": "2024-01-01T00:05:00Z", "event_type": "click"}\n'
        '{"user_id": 2, "ts": "2024-01-01T00:00:00Z", "event_type": "signup"}\n'
        '{"user_id": 2, "ts": "2024-01-01T00:10:00Z", "event_type": "click"}\n'
        '{"user_id": 2, "ts": "2024-01-01T00:03:00Z", "event_type": "purchase"}\n'
    )
    run_once()
    assert spark.read.parquet(out_dir).count() == 0  # nobody finished

    # batch 2: user 1 purchases → completion emits once with the chain
    (src / "b2.json").write_text(
        '{"user_id": 1, "ts": "2024-01-01T00:09:00Z", "event_type": "purchase"}\n'
    )
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert [(r.user_id, r.ts_1 < r.ts_2) for r in rows] == [(1, True)]

    # batch 3: more user-1 events do NOT re-emit
    (src / "b3.json").write_text(
        '{"user_id": 1, "ts": "2024-01-01T01:00:00Z", "event_type": "purchase"}\n'
    )
    run_once()
    assert spark.read.parquet(out_dir).count() == 1


def test_stream_stream_attribution_join(spark, tmp_path):
    """Watermarked stream-stream inner join: clicks attribute to the
    impression within the window; out-of-window clicks drop."""
    import datetime

    from id3c_spark.streaming.stateful import stream_stream_attribution

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    imp = spark.createDataFrame(
        [(1, m(0)), (2, m(0)), (3, m(0))], "ad_id long, imp_ts timestamp"
    )
    clk = spark.createDataFrame(
        [
            (1, m(10)),    # within 30 min → attributed
            (2, m(45)),    # outside the window → dropped
            (4, m(5)),     # no impression → dropped
        ],
        "ad_id long, click_ts timestamp",
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    imp.write.parquet(imp_dir)
    clk.write.parquet(clk_dir)
    imp_s = spark.readStream.schema(imp.schema).parquet(imp_dir)
    clk_s = spark.readStream.schema(clk.schema).parquet(clk_dir)
    out_dir = str(tmp_path / "out")
    q = (
        stream_stream_attribution(imp_s, clk_s)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    assert rows[0]["ad_id"] == 1 and rows[0]["lag_seconds"] == 600.0

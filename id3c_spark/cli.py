"""CLI mirroring the reference's ``id3c`` command tree
(lib/id3c/cli/__init__.py; SURVEY §2.1, §3.1).

Commands: etl {enrollments,manifest,presence-absence}, receiving upload,
identifier mint, de-identify, location lookup, shipping query.

Transaction policy parity (lib/id3c/cli/command/__init__.py:57-162): an
ETL run is one warehouse transaction. It defaults to --dry-run (run,
report stats, commit nothing); --prompt asks before committing; --commit
commits. A commit makes every table the run wrote live in one snapshot.
"""

from __future__ import annotations

import json
import sys

import click

from id3c_spark.session import get_spark


@click.group()
def cli() -> None:
    """id3c-spark — PySpark-native id3c capabilities."""


def _load_identifiers(spark, path: str):
    return spark.read.parquet(path)


ETLS = {}


def _run_kit(spark, rec, wh, ids):
    from id3c_spark.etl import kit

    res = kit.run(spark, rec, wh, ids)
    # res.stats already counts deferred kits (encounter not yet loaded —
    # retried next run, the reference's EncounterNotFoundError ordering,
    # etl/kit.py:70-77); the deferred_ids frame itself is CLI-irrelevant
    return res.stats


def _register_etls() -> None:
    from id3c_spark.etl import enrollments, fhir, manifest, presence_absence

    ETLS.update({
        "enrollments": lambda spark, rec, wh, ids: enrollments.run(spark, rec, wh, ids),
        "manifest": lambda spark, rec, wh, ids: manifest.run(spark, rec, wh, ids),
        "presence-absence": lambda spark, rec, wh, ids: presence_absence.run(spark, rec, wh, ids),
        "fhir": lambda spark, rec, wh, ids: fhir.run(spark, rec, wh, ids),
        "kit": _run_kit,
    })


@cli.command("etl")
@click.argument("name", type=click.Choice(
    ["enrollments", "manifest", "presence-absence", "fhir", "kit", "consensus-genome"]))
@click.option("--input", "input_path", required=True, help="NDJSON receiving file/glob")
@click.option("--warehouse", "warehouse_dir", required=True)
@click.option("--identifiers", "identifiers_path", required=False, default=None,
              help="identifier parquet (required for all but consensus-genome)")
@click.option("--organisms", "organisms_path", required=False, default=None,
              help="organism parquet (consensus-genome only)")
@click.option(
    "--dry-run", "action", flag_value="rollback", default=True,
    help="Only go through the motions of changing the warehouse (default)",
)
@click.option(
    "--prompt", "action", flag_value="prompt",
    help="Ask if changes to the warehouse should be saved",
)
@click.option(
    "--commit", "action", flag_value="commit",
    help="Save changes to the warehouse",
)
def etl_cmd(name, input_path, warehouse_dir, identifiers_path, organisms_path, action):
    """Transaction policy parity (reference cli/command/__init__.py:57-162):
    three-way --dry-run/--prompt/--commit. The ETL runs as one warehouse
    transaction whose writes stay staged until it ends: --dry-run rolls
    it back, --prompt asks (click.confirm, the reference's interactive
    question) and commits on yes, --commit commits. A commit publishes
    every table the run wrote in one snapshot, so the warehouse moves
    from its old state to the new one at once, or not at all."""
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.sources.readers import read_ndjson_receiving

    _register_etls()
    spark = get_spark(f"etl-{name}")
    receiving = read_ndjson_receiving(spark, input_path)
    wh = Warehouse(spark, warehouse_dir)
    with wh.transaction() as txn:
        if name == "consensus-genome":
            if not organisms_path:
                raise click.UsageError("consensus-genome requires --organisms")
            from id3c_spark.etl import consensus_genome

            stats = consensus_genome.run(
                spark, receiving, wh, spark.read.parquet(organisms_path)
            )
        else:
            if not identifiers_path:
                raise click.UsageError(f"{name} requires --identifiers")
            stats = ETLS[name](spark, receiving, wh, _load_identifiers(spark, identifiers_path))
        committed = action == "commit" or (
            action == "prompt" and CONFIRM("Commit all changes?")
        )
        if not committed:
            txn.rollback()
    click.echo(json.dumps({"etl": name, "committed": committed, **stats}))


#: Interactive confirmation hook for --prompt mode; swap out in tests.
CONFIRM = click.confirm


@cli.command("upload")
@click.argument("file", type=click.Path(exists=True))
@click.option("--receiving-dir", required=True)
@click.option("--table", required=True)
def upload_cmd(file, receiving_dir, table):
    """receiving upload parity (lib/id3c/cli/command/receiving.py:35-60):
    append NDJSON documents to the receiving log."""
    import os

    os.makedirs(receiving_dir, exist_ok=True)
    dest = os.path.join(receiving_dir, f"{table}.ndjson")
    n = 0
    with open(file) as src, open(dest, "a") as out:
        for line in src:
            if line.strip():
                json.loads(line)            # json_typeof-style validation
                out.write(line.rstrip("\n") + "\n")
                n += 1
    click.echo(json.dumps({"table": table, "uploaded": n}))


@cli.command("mint")
@click.option("--n", type=int, required=True)
@click.option("--set-id", type=int, required=True)
@click.option("--set-name", default="samples",
              help="identifier-set name selecting the label layout")
@click.option("--existing", help="parquet of existing identifiers", default=None)
@click.option("--seed", default="mint")
@click.option("--labels", default=None, type=click.Path(),
              help="generate barcode labels for the new identifiers and "
                   "save the PDF to the given file (reference identifier.py:44-46)")
@click.option("--layout", default="default")
@click.option("--label-api", default=None, help="Lab Labels service URL")
def mint_cmd(n, set_id, set_name, existing, seed, labels, layout, label_api):
    from id3c_spark.operators.similarity import mint_identifiers

    spark = get_spark("mint")
    ex = (
        spark.read.parquet(existing).select("barcode")
        if existing
        else spark.createDataFrame([], "barcode string")
    )
    minted = mint_identifiers(spark, ex, n, set_id, seed=seed)
    rows = minted.collect()
    for r in rows:
        click.echo(json.dumps({"uuid": r.uuid, "barcode": r.barcode}))
    if labels:
        from id3c_spark import labelmaker

        lay, barcodes = labelmaker.layout_identifiers(set_name, rows, layout)
        kwargs = {"api": label_api} if label_api else {}
        pdf = labelmaker.generate_pdf(lay, barcodes, **kwargs)
        with open(labels, "wb") as f:
            f.write(pdf)
        click.echo(f"wrote {len(pdf)} bytes of labels to {labels}")


@cli.group("identifier")
def identifier_group() -> None:
    """Identifier batches, label PDFs, and set registries (reference
    lib/id3c/cli/command/identifier.py)."""


@identifier_group.command("labels")
@click.argument("filename", type=click.Path())
@click.option("--identifiers", "ids_path", required=True,
              help="NDJSON lines of {uuid, barcode} (mint output) or a "
                   "parquet with a barcode column — replaces the "
                   "reference's interactive batch picker "
                   "(identifier.py:125-160) for non-interactive runs")
@click.option("--set-name", default="samples", show_default=True)
@click.option("--layout", default="default", show_default=True)
@click.option("--copies-per-barcode", type=click.Choice(["1", "2"]), default=None)
@click.option("--label-api", default=None, help="Lab Labels service URL")
@click.option("--spec-only", is_flag=True,
              help="write the Lab Labels layout spec JSON instead of "
                   "POSTing it for PDF rendering (offline/air-gapped runs; "
                   "the reference always delegates rendering to the "
                   "external service)")
def identifier_labels(filename, ids_path, set_name, layout,
                      copies_per_barcode, label_api, spec_only) -> None:
    """Make barcode labels for an EXISTING batch of identifiers
    (identifier.py:109-160)."""
    import os as _os

    from id3c_spark import labelmaker

    if ids_path.endswith(".parquet") or _os.path.isdir(ids_path):
        spark = get_spark("identifier-labels")
        barcodes = [r["barcode"] for r in
                    spark.read.parquet(ids_path).select("barcode").collect()]
    else:
        with open(ids_path) as f:
            barcodes = [json.loads(line)["barcode"] for line in f if line.strip()]
    lay, codes = labelmaker.layout_identifiers(
        set_name, barcodes, layout,
        copies_per_barcode=int(copies_per_barcode) if copies_per_barcode else None,
    )
    if spec_only:
        with open(filename, "w") as f:
            json.dump(lay.spec(codes), f)
    else:
        kwargs = {"api": label_api} if label_api else {}
        pdf = labelmaker.generate_pdf(lay, codes, **kwargs)
        with open(filename, "wb") as f:
            f.write(pdf)
    click.echo(json.dumps({"labels": filename, "n_barcodes": len(codes)}))


def _registry(spark, warehouse: str, name: str):
    """A registry table: the warehouse's own table where it has one (so
    Warehouse readers see what the CLI wrote), else a standalone root."""
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.schemas import WAREHOUSE_SCHEMAS
    from id3c_spark.sources.store import ParquetTable

    if name in WAREHOUSE_SCHEMAS:
        return Warehouse(spark, warehouse).tables[name]
    return ParquetTable(spark, f"{warehouse.rstrip('/')}/{name}")


@identifier_group.group("set")
def identifier_set_group() -> None:
    """Identifier set registry (identifier.py:199-257)."""


@identifier_set_group.command("ls")
@click.option("--warehouse", required=True)
def identifier_set_ls(warehouse) -> None:
    spark = get_spark("identifier-set")
    t = _registry(spark, warehouse, "identifier_set")
    if t.exists():
        for r in t.read().orderBy("name").collect():
            click.echo(json.dumps(
                {"name": r["name"], "use": r["use"],
                 "description": r["description"]}))


@identifier_set_group.command("create")
@click.argument("name")
@click.argument("use")
@click.argument("description")
@click.option("--warehouse", required=True)
def identifier_set_create(name, use, description, warehouse) -> None:
    """Create a set; *use* must exist in the set-use registry (the
    reference's FK constraint, identifier.py:228-256)."""
    from pyspark.sql import functions as F

    spark = get_spark("identifier-set")
    uses = _registry(spark, warehouse, "identifier_set_use")
    known = (
        {r["use"] for r in uses.read().collect()} if uses.exists() else set()
    )
    if use not in known:
        raise click.UsageError(
            f"unknown use {use!r}; create it first (known: {sorted(known)})"
        )
    t = _registry(spark, warehouse, "identifier_set")
    row = spark.createDataFrame(
        [(name, use, description)], "name string, use string, description string"
    )
    if t.exists():
        if t.read().filter(F.col("name") == name).count():
            raise click.UsageError(f"set {name!r} exists")
        t.append(row)
    else:
        t.publish(row)
    click.echo(json.dumps({"created": name, "use": use}))


@identifier_group.group("set-use")
def identifier_set_use_group() -> None:
    """Identifier set-use registry (identifier.py:258-300)."""


@identifier_set_use_group.command("ls")
@click.option("--warehouse", required=True)
def identifier_set_use_ls(warehouse) -> None:
    spark = get_spark("identifier-set-use")
    t = _registry(spark, warehouse, "identifier_set_use")
    if t.exists():
        for r in t.read().orderBy("use").collect():
            click.echo(json.dumps({"use": r["use"], "description": r["description"]}))


@identifier_set_use_group.command("create")
@click.argument("use")
@click.argument("description")
@click.option("--warehouse", required=True)
def identifier_set_use_create(use, description, warehouse) -> None:
    from pyspark.sql import functions as F

    spark = get_spark("identifier-set-use")
    t = _registry(spark, warehouse, "identifier_set_use")
    row = spark.createDataFrame(
        [(use, description)], "use string, description string"
    )
    if t.exists():
        if t.read().filter(F.col("use") == use).count():
            raise click.UsageError(f"use {use!r} exists")
        t.append(row)
    else:
        t.publish(row)
    click.echo(json.dumps({"created": use}))


@cli.command("de-identify")
@click.option("--input", "input_path", required=True, help="CSV file")
@click.option("--columns", required=True, help="comma-separated hash inputs")
@click.option("--secret", envvar="ID3C_DEIDENTIFY_SECRET", required=True)
@click.option("--output", required=True)
def deidentify_cmd(input_path, columns, secret, output):
    from id3c_spark.deidentify import deidentify
    from id3c_spark.sources.readers import read_csv_all_strings

    spark = get_spark("de-identify")
    df = read_csv_all_strings(spark, input_path)
    deidentify(df, columns.split(","), secret).write.mode("overwrite").csv(output, header=True)
    click.echo(json.dumps({"output": output}))


@cli.command("lookup")
@click.option("--points", required=True, help="CSV with lat,lng columns")
@click.option("--locations", required=True, help="location parquet (polygon_wkt)")
@click.option("--output", required=True)
def lookup_cmd(points, locations, output):
    from id3c_spark.geo import lookup_tract
    from id3c_spark.sources.readers import read_csv_all_strings

    spark = get_spark("lookup")
    pts = read_csv_all_strings(spark, points).withColumns(
        {"lat": F_double("lat"), "lng": F_double("lng")}
    )
    locs = spark.read.parquet(locations)
    lookup_tract(pts, locs).write.mode("overwrite").csv(output, header=True)
    click.echo(json.dumps({"output": output}))


def F_double(c):
    from pyspark.sql import functions as F
    return F.col(c).cast("double")


@cli.command("shipping")
@click.option("--warehouse", "warehouse_dir", required=True)
@click.option("--view", default="observation_with_presence_absence_result_v1")
@click.option("--limit", type=int, default=20)
def shipping_cmd(warehouse_dir, view, limit):
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.plans import shipping as shipping_views

    spark = get_spark("shipping")
    wh = Warehouse(spark, warehouse_dir)
    frames = {n: wh.read(n) for n in ("sample", "presence_absence", "target",
                                      "encounter", "individual", "site")}
    shipping_views.create_views(spark, frames)
    for row in spark.sql(f"SELECT * FROM {view} LIMIT {limit}").collect():  # noqa: S608
        click.echo(json.dumps(row.asDict(), default=str))


@cli.group("manifest")
def manifest_group():
    """Parse, diff, and upload sample manifests
    (lib/id3c/cli/command/manifest.py)."""


@manifest_group.command("parse")
@click.argument("workbook", metavar="<filepath-or-url>")
@click.option("--sheet", default=None)
@click.option("--sample-column", default=None)
@click.option("--collection-column", default=None)
@click.option("--date-column", default=None)
@click.option("--sample-type", default=None,
              type=click.Choice(["utm", "rdt"]))
@click.option("--extra-column", "extra_columns", multiple=True,
              metavar="<dst>:<src>", help="may contain shell-style wildcards")
@click.option("--row-filter", default=None, help="pandas query expression")
@click.option("--output", required=True, help="NDJSON output path")
def manifest_parse(workbook, sheet, sample_column, collection_column,
                   date_column, sample_type, extra_columns, row_filter, output):
    """Parse a workbook into NDJSON manifest records (manifest.py:49-130)."""
    from id3c_spark.sources.manifest_parse import parse_workbook

    records = parse_workbook(
        workbook, sheet=sheet, sample_column=sample_column,
        collection_column=collection_column, date_column=date_column,
        extra_columns=[tuple(c.split(":", 1)) for c in extra_columns],
        sample_type=sample_type, row_filter=row_filter,
    )
    with open(output, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    click.echo(f"wrote {len(records)} manifest records to {output}")


@manifest_group.command("parse-using-config")
@click.argument("config_file", type=click.Path(exists=True))
@click.option("--output", required=True)
def manifest_parse_config(config_file, output):
    """Parse via a JSON config document (manifest.py:133-275)."""
    from id3c_spark.sources.manifest_parse import parse_using_config

    with open(config_file) as f:
        config = json.load(f)
    records = parse_using_config(config)
    with open(output, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    click.echo(f"wrote {len(records)} manifest records to {output}")


@manifest_group.command("upload")
@click.argument("manifest_file", type=click.Path(exists=True))
@click.option("--receiving-dir", required=True)
def manifest_upload(manifest_file, receiving_dir):
    """Upload parsed manifest records into the receiving area
    (manifest.py:439-469): the dedicated form of `id3c upload` pinned to
    the manifest receiving table; the manifest ETL then reconciles the
    records against identifiers and samples. All-or-nothing like the
    reference's transaction: lines are validated before any append."""
    import os

    with open(manifest_file) as src:
        lines = [ln.rstrip("\n") for ln in src if ln.strip()]
    for ln in lines:
        json.loads(ln)  # validate everything BEFORE appending anything
    os.makedirs(receiving_dir, exist_ok=True)
    with open(os.path.join(receiving_dir, "manifest.ndjson"), "a") as out:
        for ln in lines:
            out.write(ln + "\n")
    click.echo(json.dumps({"table": "manifest", "uploaded": len(lines)}))


@manifest_group.command("diff")
@click.argument("manifest_a", type=click.Path(exists=True))
@click.argument("manifest_b", type=click.Path(exists=True))
@click.option("--ignore-case", is_flag=True)
@click.option("--output", required=True)
def manifest_diff(manifest_a, manifest_b, ignore_case, output):
    """Records in A but not in B by content hash, provenance ignored
    (manifest.py:396-436)."""
    from id3c_spark.sources.manifest_parse import diff_manifests

    def load(p):
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    new = diff_manifests(load(manifest_a), load(manifest_b), ignore_case)
    with open(output, "w") as f:
        for r in new:
            f.write(json.dumps(r) + "\n")
    click.echo(f"{len(new)} new records")


@cli.group("sequence-read-set")
def srs_group():
    """Parse and upload sequence read sets
    (lib/id3c/cli/command/sequence_read_set.py)."""


@srs_group.command("parse")
@click.argument("fastq_directory", type=click.Path(exists=True, file_okay=False))
@click.option("--filename-pattern", default=r".*/(\d+)_[^/]*\.fastq\.gz$",
              show_default=True,
              help="regex matching the sample id in FASTQ paths")
@click.option("--url-prefix", default="", help="base for fully-qualified urls")
@click.option("--output", required=True, help="NDJSON output path")
def srs_parse(fastq_directory, filename_pattern, url_prefix, output):
    """Group *.fastq.gz files into per-sample read sets
    (sequence_read_set.py:28-79)."""
    from id3c_spark.sources.readers import fastq_read_sets

    spark = get_spark("srs-parse")
    sets = fastq_read_sets(spark, fastq_directory, filename_pattern)
    n = 0
    with open(output, "w") as f:
        for r in sets.collect():
            urls = [url_prefix + u if url_prefix else u for u in r.urls]
            f.write(json.dumps({"sample": r.sample, "urls": urls}) + "\n")
            n += 1
    click.echo(f"wrote {n} sequence read sets to {output}")


@srs_group.command("upload")
@click.argument("srs_file", type=click.Path(exists=True))
@click.argument("unknown_sample_output", type=click.Path())
@click.option("--warehouse", "warehouse_dir", required=True)
def srs_upload(srs_file, unknown_sample_output, warehouse_dir):
    """Upload read sets; unknown NWGC sample ids go to the side output
    (sequence_read_set.py:81-155)."""
    from id3c_spark.etl.consensus_genome import upload_read_sets
    from id3c_spark.etl.warehouse import Warehouse

    spark = get_spark("srs-upload")
    read_sets = spark.read.json(srs_file, schema="sample string, urls array<string>")
    unknown, stats = upload_read_sets(spark, read_sets, Warehouse(spark, warehouse_dir))
    with open(unknown_sample_output, "w") as f:
        for r in unknown.collect():
            f.write(json.dumps({"sample": r.sample, "urls": list(r.urls)}) + "\n")
    click.echo(json.dumps(stats))


@cli.group("redcap-det")
def redcap_det_group():
    """Generate and upload REDCap DET notifications
    (lib/id3c/cli/command/redcap_det.py)."""


@redcap_det_group.command("generate")
@click.argument("record_ids", nargs=-1)
@click.option("--api-url", required=True)
@click.option("--project-id", type=int, required=True)
@click.option("--token", envvar="REDCAP_API_TOKEN", required=True)
@click.option("--since-date", default=None)
@click.option("--until-date", default=None)
@click.option("--instrument", "instruments", multiple=True)
@click.option("--event", "events", multiple=True)
@click.option("--include-incomplete", is_flag=True)
@click.option("--output", required=True, help="NDJSON output path")
def redcap_det_generate(record_ids, api_url, project_id, token, since_date,
                        until_date, instruments, events, include_incomplete, output):
    """Generate DET notifications for REDCap records
    (redcap_det.py:33-128)."""
    from id3c_spark.sources.redcap import RedcapProject, generate_dets

    project = RedcapProject(api_url, project_id, token=token)
    n = 0
    with open(output, "w") as f:
        for d in generate_dets(
            project, record_ids, since_date=since_date, until_date=until_date,
            instruments=list(instruments) or None, events=list(events) or None,
            include_incomplete=include_incomplete,
        ):
            f.write(json.dumps(d) + "\n")
            n += 1
    click.echo(f"wrote {n} DET notifications to {output}")


@redcap_det_group.command("upload")
@click.argument("det_file", type=click.Path(exists=True))
@click.option("--receiving-dir", required=True)
def redcap_det_upload(det_file, receiving_dir):
    """Upload DET notifications into the receiving area
    (redcap_det.py:155-182) — same NDJSON append as `upload`."""
    import os
    import shutil

    os.makedirs(receiving_dir, exist_ok=True)
    n = sum(1 for line in open(det_file) if line.strip())
    with open(os.path.join(receiving_dir, "redcap_det.ndjson"), "a") as out:
        with open(det_file) as f:
            shutil.copyfileobj(f, out)
    click.echo(json.dumps({"uploaded": n}))


@cli.group("user")
def user_group():
    """List and create users (lib/id3c/cli/command/user.py)."""


@user_group.command("create")
@click.argument("name", metavar="<username>")
@click.option("--registry", required=True, help="user registry JSON path")
@click.option("--generate-password", is_flag=True)
@click.option("--role", "roles", metavar="<name>", multiple=True)
@click.option("--comment", metavar="<text>")
def user_create(name, registry, generate_password, roles, comment):
    """Create a new user (user.py:22-58)."""
    from id3c_spark.users import UserRegistry

    reg = UserRegistry(registry)
    reg.create_user(name, comment)
    reg.grant_roles(name, list(roles))
    if generate_password:
        click.echo(f"Password is {reg.reset_password(name)}")


@user_group.command("reset-password")
@click.argument("name", metavar="<username>")
@click.option("--registry", required=True)
def user_reset_password(name, registry):
    """Reset a user's password (user.py:61-79)."""
    from id3c_spark.users import UserRegistry

    click.echo(f"New password is {UserRegistry(registry).reset_password(name)}")


@user_group.command("ls")
@click.option("--registry", required=True)
def user_ls(registry):
    """List users with their sorted role lists (user.py:82-110)."""
    from id3c_spark.users import UserRegistry

    users = UserRegistry(registry).list_users()
    width = max((len(u["name"]) for u in users), default=0) + 3
    for u in users:
        click.echo(f"{u['name']:<{width}}" + ", ".join(u["roles"]))


@cli.command("geocode")
@click.option("--input", "input_path", required=True, help="CSV with address columns")
@click.option("--cache", "cache_path", required=True, help="pickled TTL cache path")
@click.option("--address-columns", default=None, help="comma-separated, default Street,Street2,City,State,ZipCode")
@click.option("--smarty-auth-id", envvar="SMARTYSTREETS_AUTH_ID", default=None)
@click.option("--smarty-auth-token", envvar="SMARTYSTREETS_AUTH_TOKEN", default=None)
@click.option("--output", required=True)
def geocode_cmd(input_path, cache_path, address_columns, smarty_auth_id, smarty_auth_token, output):
    """Geocode addresses (reference: `id3c geocode using-options`,
    lib/id3c/cli/command/geocode.py). Uses the real SmartyStreets
    provider when credentials are supplied, else the deterministic
    offline stand-in."""
    from id3c_spark.geocode import fake_geocoder, geocode, smartystreets_provider
    from id3c_spark.sources.readers import read_csv_all_strings

    provider = (
        smartystreets_provider(smarty_auth_id, smarty_auth_token)
        if smarty_auth_id and smarty_auth_token
        else fake_geocoder
    )
    spark = get_spark("geocode")
    df = read_csv_all_strings(spark, input_path)
    cols = address_columns.split(",") if address_columns else None
    geocode(df, cache_path, provider, cols).write.mode("overwrite").csv(output, header=True)
    click.echo(json.dumps({"output": output}))


@cli.group("location")
def location_group():
    """Warehouse location management (lib/id3c/cli/command/location.py)."""


@location_group.command("import")
@click.argument("features_path")
@click.option("--warehouse", "warehouse_dir", required=True)
@click.option("--scale", default=None)
@click.option("--simplified", "simplified_path", default=None, help="GeoJSON of simplified polygons")
@click.option("--if-exists", "mode", type=click.Choice(["update", "nothing"]), default="update")
def location_import_cmd(features_path, warehouse_dir, scale, simplified_path, mode):
    """Import a GeoJSON FeatureCollection into warehouse.location
    (location.py:316-352 parity: CRS check/reproject, hstore hierarchy,
    conflict-mode switch, import stats)."""
    from id3c_spark.etl.location_import import import_locations, stage_features
    from id3c_spark.etl.warehouse import Warehouse

    spark = get_spark("location-import")
    with open(features_path) as f:
        staged = stage_features(spark, json.load(f), scale)
    simplified = None
    if simplified_path:
        with open(simplified_path) as f:
            simplified = stage_features(spark, json.load(f), scale)
    stats = import_locations(spark, Warehouse(spark, warehouse_dir), staged, simplified, mode)
    click.echo(json.dumps(stats))


@location_group.command("lookup")
@click.option("--points", required=True, help="CSV with lat,lng columns")
@click.option("--locations", required=True, help="location parquet (polygon_wkt)")
@click.option("--output", required=True)
def location_lookup(points, locations, output):
    """Point-in-polygon lookup (the reference's `id3c location lookup`,
    location.py:354) — same engine as the top-level `lookup` alias."""
    lookup_cmd.callback(points, locations, output)


@cli.command("refresh-materialized-view")
@click.argument("view_name")
@click.option("--warehouse", "warehouse_dir", required=True)
@click.option("--gold", "gold_root", required=True, help="gold table root dir")
def refresh_cmd(view_name, warehouse_dir, gold_root):
    """Recompute + atomically publish one shipping view as a gold table
    (refresh_materialized_view.py:24-35 parity: readers never observe a
    partial refresh)."""
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.plans import shipping as shipping_views
    from id3c_spark.refresh import refresh_materialized_view

    spark = get_spark("refresh")
    wh = Warehouse(spark, warehouse_dir)
    frames = {n: wh.read(n) for n in ("sample", "presence_absence", "target",
                                      "encounter", "individual", "site")}
    shipping_views.create_views(spark, frames)
    version = refresh_materialized_view(
        spark, view_name, gold_root, lambda: spark.table(view_name)
    )
    click.echo(json.dumps({"view": view_name, "version": version}))


@cli.group("redcap-sync")
def redcap_sync_group():
    """REDCap → warehouse synchronization routines — one-way, like a git
    pull (reference cli/command/redcap_sync.py:1-13)."""


#: Project factory hook for redcap-sync; tests swap in a stub-backed one.
def REDCAP_PROJECT(api_url: str, project_id: int, token: str):
    from id3c_spark.sources.redcap import RedcapProject

    return RedcapProject(api_url, project_id, token=token)


@redcap_sync_group.command("delete")
@click.option("--api-url", required=True)
@click.option("--project-id", type=int, required=True)
@click.option("--token", envvar="REDCAP_API_TOKEN", required=True,
              help="REDCap API token (or env REDCAP_API_TOKEN)")
@click.option("--warehouse", "warehouse_dir", required=True)
@click.option("--since-date", default=None,
              help="Limit to log events generated since 'YYYY-MM-DD HH:MM:SS'")
@click.option("--until-date", default=None,
              help="Limit to log events generated before 'YYYY-MM-DD HH:MM:SS'")
@click.option("--record-id", default=None,
              help="Only fetch deletion events for this REDCap record")
@click.option("--user", default=None, help="Only log events by this REDCap user")
@click.option("--dag", default=None, help="Only log events within this DAG")
@click.option("--log-identifiers", is_flag=True,
              help="Echo the deletion identifier patterns")
@click.option("--dry-run", "action", flag_value="rollback", default=True,
              help="Only report what would be deleted (default)")
@click.option("--prompt", "action", flag_value="prompt",
              help="Ask if the deletions should be saved")
@click.option("--commit", "action", flag_value="commit",
              help="Save the deletions to the warehouse")
def redcap_sync_delete(api_url, project_id, token, warehouse_dir, since_date,
                       until_date, record_id, user, dag, log_identifiers, action):
    """Fetch deleted REDCap records (logging API) and delete them — with
    their linked encounter_location / sample / presence_absence rows and
    orphaned individuals / locations — from the warehouse (reference
    redcap_sync.py:144-384).

    The cascade itself is operators/deletes.cascade_delete_encounters
    (the reference's per-encounter savepoint loop becomes one set-wise
    anti-join cascade). A commit writes every changed table, clustered
    as its upsert bootstrap clusters it, in one warehouse transaction:
    the whole cascade goes live in one snapshot, and a failure leaves
    every table on its old version. Without a commit nothing is written
    — the reference's rollback-by-default transaction policy.
    """
    from id3c_spark.etl.warehouse import MERGE_KEYS, Warehouse, cluster_key
    from id3c_spark.operators.deletes import (
        cascade_delete_encounters,
        find_encounters_like_any,
    )

    project = REDCAP_PROJECT(api_url, project_id, token)
    deletion_events = project.logs(
        log_type="record_delete", since_date=since_date, until_date=until_date,
        record=record_id, user=user, dag=dag,
    )
    patterns = [
        f"{project.base_url}{project.id}/{event['record']}/%"
        for event in deletion_events
    ]
    if log_identifiers:
        click.echo(json.dumps({"identifiers": patterns}))

    spark = get_spark("redcap-sync")
    wh = Warehouse(spark, warehouse_dir)
    # each table, and the cascade's counts of the rows it changes there
    tables = {
        "encounter": ["encounter"], "encounter_location": ["encounter_location"],
        "location": ["location"], "sample": ["sample", "sample_unlinked"],
        "presence_absence": ["presence_absence"], "individual": ["individual_orphans"],
    }
    with wh.transaction():
        frames = {name: wh.read(name) for name in tables}
        doomed = (
            find_encounters_like_any(frames["encounter"], patterns)
            if patterns else frames["encounter"].limit(0)
        )
        out, stats = cascade_delete_encounters(frames, doomed)
        committed = action == "commit" or (
            action == "prompt" and CONFIRM("Commit all changes?")
        )
        if committed:
            for name, counts in tables.items():
                if any(stats.get(c) for c in counts):
                    wh.tables[name].publish(out[name], cluster_by=cluster_key(MERGE_KEYS[name]))
    click.echo(json.dumps({
        "deletion_events": len(deletion_events),
        "committed": committed,
        **stats,
    }))


@cli.group()
def corpus() -> None:
    """Training-corpus curation (the north-star operator family made
    operational): continuous ingest, batch curation, snapshot audit."""


@corpus.command("ingest")
@click.argument("source_glob")
@click.argument("table_path")
@click.option("--checkpoint", required=True, help="streaming checkpoint dir")
@click.option("--min-words", default=3, show_default=True)
@click.option("--threshold", default=0.5, show_default=True,
              help="near-dup Jaccard guard vs the published corpus")
def corpus_ingest(source_glob: str, table_path: str, checkpoint: str,
                  min_words: int, threshold: float) -> None:
    """Drain NDJSON document files through the curation loop into the
    versioned corpus table (quality gate + dedup guards; replay-safe)."""
    from id3c_spark.sources.store import ParquetTable
    from id3c_spark.streaming.corpus_ingest import IngestStats, run_corpus_ingest

    spark = get_spark("corpus-ingest")
    stats = IngestStats()
    run_corpus_ingest(
        spark, source_glob, checkpoint, ParquetTable(spark, table_path),
        min_words=min_words, jaccard_threshold=threshold, stats=stats,
    )
    click.echo(json.dumps({"batches": stats.batches}))


@corpus.command("curate")
@click.argument("input_parquet")
@click.argument("out_dir")
@click.option("--benchmark", required=True, help="eval-set parquet to decontaminate against")
@click.option("--token-budget", default=2048, show_default=True)
@click.option("--shards", default=8, show_default=True)
@click.option("--threshold", default=0.8, show_default=True)
def corpus_curate(input_parquet: str, out_dir: str, benchmark: str,
                  token_budget: int, shards: int, threshold: float) -> None:
    """Batch curation: quality -> decontaminate -> exact + near dedup ->
    sample -> pack/shard; writes packed/ and shards/ parquet plus stage
    counts on stdout."""
    from id3c_spark.plans.curation import curate

    spark = get_spark("corpus-curate")
    docs = spark.read.parquet(input_parquet)
    bench = spark.read.parquet(benchmark)
    with curate(
        docs, bench, jaccard_threshold=threshold,
        token_budget=token_budget, n_shards=shards,
    ) as stages:
        stages["packed"].write.mode("overwrite").parquet(f"{out_dir}/packed")
        stages["shards"].write.mode("overwrite").parquet(f"{out_dir}/shards")
        click.echo(json.dumps({
            name: stages[name].count()
            for name in ("quality", "clean", "exact", "unique", "sampled")
        }))


@corpus.command("snapshot")
@click.argument("table_path")
@click.option("--version", type=int, default=None,
              help="pin a historical version (time travel)")
def corpus_snapshot(table_path: str, version: int | None) -> None:
    """Audit a corpus table: retained versions, current version, and the
    row count of the selected (or current) snapshot."""
    from id3c_spark.sources.store import ParquetTable

    spark = get_spark("corpus-snapshot")
    t = ParquetTable(spark, table_path)
    click.echo(json.dumps({
        "versions": t.versions(),
        "current": t.current_version(),
        "rows": t.read(version=version).count(),
        "pinned": version,
    }))


@corpus.command("profile")
@click.argument("input_parquet")
@click.option("--columns", default=None, help="comma-separated subset (default: all)")
@click.option("--approx", is_flag=True,
              help="HLL cardinality (avoids the multi-distinct Expand at scale)")
def corpus_profile(input_parquet: str, columns: str | None, approx: bool) -> None:
    """Per-column profile of a parquet table: nulls, cardinality, range —
    one aggregation job; JSON lines on stdout."""
    from id3c_spark.operators.profile import profile_table

    spark = get_spark("corpus-profile")
    df = spark.read.parquet(input_parquet)
    cols = [c.strip() for c in columns.split(",")] if columns else None
    for row in profile_table(df, columns=cols, exact=not approx).collect():
        click.echo(json.dumps(row.asDict()))


@corpus.command("compact")
@click.argument("table_path")
@click.option("--target-files", default=8, show_default=True, type=int)
@click.option("--min-file-mb", default=None, type=int,
              help="incremental mode: bin-pack ONLY files smaller than "
                   "this, hard-link large files forward — O(small-file "
                   "debt), not O(table); safe to run on a schedule. "
                   "Overrides --target-files.")
@click.option("--cluster-by", default=None,
              help="incremental mode: re-sort the packed files on these "
                   "comma-separated columns so their footer ranges stay "
                   "prunable (pass the table's original layout keys)")
def corpus_compact(table_path: str, target_files: int,
                   min_file_mb: int | None, cluster_by: str | None) -> None:
    """Compact the current corpus version into fewer, larger files
    (post-ingest OPTIMIZE; published as a normal new version so time
    travel and atomic reads hold)."""
    from id3c_spark.sources.store import ParquetTable

    spark = get_spark("corpus-compact")
    table = ParquetTable(spark, table_path)
    if min_file_mb is not None:
        v = table.compact_incremental(
            min_file_bytes=min_file_mb << 20,
            cluster_by=(
                [c.strip() for c in cluster_by.split(",")] if cluster_by else None
            ),
        )
        click.echo(json.dumps({"version": v, "min_file_mb": min_file_mb}))
        return
    v = table.compact(target_files=target_files)
    click.echo(json.dumps({"version": v, "target_files": target_files}))


@corpus.command("zorder")
@click.argument("input_parquet")
@click.option("--output", required=True)
@click.option("--by", "cols", required=True,
              help="comma-separated numeric columns to cluster on")
@click.option("--num-files", default=None, type=int)
def corpus_zorder(input_parquet: str, output: str, cols: str,
                  num_files: int | None) -> None:
    """Rewrite a parquet table Z-order-clustered on multiple columns so
    footer min/max stats skip files for predicates on ANY of them."""
    from id3c_spark.sources.bucketing import write_zordered

    spark = get_spark("corpus-zorder")
    df = spark.read.parquet(input_parquet)
    write_zordered(df, output, [c.strip() for c in cols.split(",")],
                   num_files=num_files)
    click.echo(json.dumps({"output": output, "cols": cols}))


@corpus.command("ann-build")
@click.argument("input_parquet")
@click.argument("index_path")
@click.option("--nlist", default=8, show_default=True, type=int)
@click.option("--m", default=16, show_default=True, type=int)
@click.option("--kcent", default=256, show_default=True, type=int)
@click.option("--assign-n", default=1, show_default=True, type=int,
              help="corpus-side multi-assign: encode each vector into its "
                   "top-N cells (N× codes storage for coarse recall)")
@click.option("--id-col", default="vec_id", show_default=True)
@click.option("--vec-col", default="embedding", show_default=True)
def corpus_ann_build(input_parquet: str, index_path: str, nlist: int,
                     m: int, kcent: int, assign_n: int, id_col: str,
                     vec_col: str) -> None:
    """Train and publish a persisted residual-IVFPQ ANN index (coarse
    centroids, salted residual codebooks, cell-clustered codes and
    vectors tables) — train once, serve many."""
    from id3c_spark.plans.ann_index import build_index

    spark = get_spark("corpus-ann-build")
    versions = build_index(
        spark.read.parquet(input_parquet), index_path,
        nlist=nlist, m=m, kcent=kcent, id_col=id_col, vec_col=vec_col,
        assign_n=assign_n,
    )
    click.echo(json.dumps({"index": index_path, "versions": versions}))


@corpus.command("ann-add")
@click.argument("index_path")
@click.argument("input_parquet")
@click.option("--id-col", default="vec_id", show_default=True)
@click.option("--vec-col", default="embedding", show_default=True)
def corpus_ann_add(index_path: str, input_parquet: str, id_col: str,
                   vec_col: str) -> None:
    """Incrementally ingest a vector batch into a persisted ANN index:
    encode with the stored models (no retraining) and append
    file-granularly."""
    from id3c_spark.plans.ann_index import add_to_index

    spark = get_spark("corpus-ann-add")
    v = add_to_index(
        spark, index_path, spark.read.parquet(input_parquet),
        id_col=id_col, vec_col=vec_col,
    )
    click.echo(json.dumps({"index": index_path, "versions": v}))


@corpus.command("ann-drift")
@click.argument("index_path")
def corpus_ann_drift(index_path: str) -> None:
    """Quantizer-drift report for a persisted ANN index: per-cell
    occupancy/residual drift vs the build-time baseline, one NDJSON row
    per cell plus a final verdict row — rebuild when any cell flags
    (ann-add never retrains; this is the documented rebuild policy)."""
    from id3c_spark.plans.ann_index import index_drift_report

    spark = get_spark("corpus-ann-drift")
    rows = index_drift_report(spark, index_path).orderBy("cell").collect()
    for row in rows:
        click.echo(json.dumps(row.asDict()))
    click.echo(json.dumps({"rebuild": any(r["rebuild"] for r in rows)}))


@corpus.command("ann-rebuild")
@click.argument("index_path")
@click.argument("source_parquet")
@click.option("--force", is_flag=True, help="Rebuild even when no cell flags.")
@click.option("--nlist", default=8, show_default=True, type=int)
@click.option("--m", default=16, show_default=True, type=int)
@click.option("--kcent", default=256, show_default=True, type=int)
@click.option("--assign-n", default=None, type=int,
              help="multi-assign fan-out for the rebuilt index "
                   "(default: keep the live index's)")
@click.option("--assign-ratio", default=None, type=float,
              help="adaptive multi-assign cutoff (keep a secondary "
                   "assignment only while its squared L2 is <= ratio x "
                   "the primary's; default: keep the live index's)")
@click.option("--id-col", default="vec_id", show_default=True)
@click.option("--vec-col", default="embedding", show_default=True)
def corpus_ann_rebuild(index_path: str, source_parquet: str, force: bool,
                       nlist: int, m: int, kcent: int,
                       assign_n: int | None, assign_ratio: float | None,
                       id_col: str, vec_col: str) -> None:
    """Close the drift-policy loop: run the drift report and retrain the
    index over SOURCE_PARQUET only when a cell flags (or --force). The
    scheduled-maintenance counterpart of `ann-drift` — encode-only
    ingest (`ann-add`) plus this command is the full FAISS-style
    lifecycle: add cheaply, rebuild when the quantizer has drifted.

    The retrain builds into a private sibling directory and SWAPS it
    into place (the cached_index publish pattern), never publishing the
    five tables one-by-one into the live path: a concurrent serve (or a
    crash mid-rebuild) can therefore never pair new centroids/codebooks
    with old codes/vectors. A serve that raced the swap may need one
    retry, but it always sees a complete, internally consistent index."""
    import os
    import shutil

    from id3c_spark.plans.ann_index import (
        _params_string,
        _read_assign_meta,
        _tables,
        build_index,
        index_drift_report,
    )

    spark = get_spark("corpus-ann-rebuild")
    rows = index_drift_report(spark, index_path).collect()
    flagged = any(r["rebuild"] for r in rows)
    if not (flagged or force):
        click.echo(json.dumps({"rebuilt": False, "flagged": False}))
        return
    if assign_n is None or assign_ratio is None:
        # keep the live index's multi-assign fan-out / adaptive cutoff
        live_n, live_ratio = _read_assign_meta(spark, _tables(spark, index_path))
        assign_n = live_n if assign_n is None else assign_n
        assign_ratio = live_ratio if assign_ratio is None else assign_ratio
    # single-writer guard: two concurrent rebuilds racing the swap can
    # strand the live path (the loser's first rename finds no source).
    # O_EXCL makes the second rebuild fail fast instead.
    lock = f"{index_path}.rebuild-lock"
    try:
        lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise click.ClickException(
            f"another rebuild holds {lock} — wait for it, or remove the "
            "lock file if its process is dead"
        )
    os.write(lock_fd, f"{os.getpid()}\n".encode())
    os.close(lock_fd)
    try:
        tmp = f"{index_path}.rebuild-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)  # stale crash debris of OUR pid
        versions = build_index(
            spark.read.parquet(source_parquet), tmp,
            nlist=nlist, m=m, kcent=kcent, id_col=id_col, vec_col=vec_col,
            assign_n=assign_n, assign_ratio=assign_ratio,
        )
        # Keep the index recognisable to cached_index ONLY when this
        # rebuild's params match the live marker's: the cache directory
        # name encodes the OLD params hash, so carrying a marker across
        # a params change would make cached_index callers requesting the
        # original params silently serve a mismatched index. On a params
        # change we write no marker — cached_index treats the directory
        # as incomplete debris and rebuilds at its own key.
        live_marker = os.path.join(index_path, "_COMPLETE")
        if os.path.exists(live_marker):
            new_params = _params_string(
                nlist, m, kcent, 2, assign_n, id_col, vec_col,
                assign_ratio=assign_ratio,
            )
            with open(live_marker) as f:
                live_params = f.read().strip()
            if live_params == new_params:
                with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
                    f.write(new_params + "\n")
        retired = f"{index_path}.retired-{os.getpid()}"
        os.rename(index_path, retired)
        try:
            os.rename(tmp, index_path)
        except OSError:
            # a crash path must never leave NO index at the live path:
            # put the retired copy back before surfacing the error
            os.rename(retired, index_path)
            raise
        shutil.rmtree(retired, ignore_errors=True)
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass
    click.echo(json.dumps(
        {"rebuilt": True, "flagged": flagged, "versions": versions}
    ))


@corpus.command("ann-query")
@click.argument("index_path")
@click.argument("queries_parquet")
@click.option("--k", default=5, show_default=True, type=int)
@click.option("--nprobe", default=6, show_default=True, type=int)
@click.option("--rerank", default=None, type=int,
              help="IVFADC+R: exact-cosine rerank of this many ADC "
                   "shortlist candidates per query")
@click.option("--id-col", default="vec_id", show_default=True)
@click.option("--vec-col", default="embedding", show_default=True)
def corpus_ann_query(index_path: str, queries_parquet: str, k: int,
                     nprobe: int, rerank: int | None, id_col: str,
                     vec_col: str) -> None:
    """Serve top-k neighbors from a persisted ANN index, reading only
    the probed cells' files. Emits one NDJSON row per result."""
    from id3c_spark.plans.ann_index import serve_topk

    spark = get_spark("corpus-ann-query")
    out = serve_topk(
        spark, index_path, spark.read.parquet(queries_parquet),
        k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        rerank_shortlist=rerank,
    )
    for row in out.collect():
        click.echo(json.dumps(row.asDict()))


@corpus.command("dedup-index")
@click.argument("action", type=click.Choice(["build", "query", "add"]))
@click.argument("index_path")
@click.argument("input_parquet")
@click.option("--threshold", default=0.5, show_default=True, type=float)
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_dedup_index(action: str, index_path: str, input_parquet: str,
                       threshold: float, id_col: str, text_col: str) -> None:
    """Persisted cross-batch near-dup index: ``build`` it from a corpus,
    ``query`` a new batch against it (NDJSON matches ≥ threshold), or
    ``add`` a deduped batch to it (file-granular append)."""
    from id3c_spark.plans.dedup_index import (
        add_batch,
        build_dedup_index,
        dedup_against_index,
    )

    spark = get_spark("corpus-dedup-index")
    df = spark.read.parquet(input_parquet)
    if action == "build":
        v = build_dedup_index(df, index_path, id_col=id_col, text_col=text_col)
        click.echo(json.dumps({"index": index_path, "versions": v}))
    elif action == "add":
        v = add_batch(spark, index_path, df, id_col=id_col, text_col=text_col)
        click.echo(json.dumps({"index": index_path, "versions": v}))
    else:
        out = dedup_against_index(
            spark, index_path, df, id_col=id_col, text_col=text_col,
            threshold=threshold,
        )
        for row in out.collect():
            click.echo(json.dumps(row.asDict()))


@corpus.command("check")
@click.argument("input_parquet")
@click.option("--not-null", "not_null_cols", multiple=True,
              help="column that must be non-null (repeatable)")
@click.option("--unique", "unique_cols", multiple=True,
              help="column (or comma-joined columns) that must be unique (repeatable)")
@click.option("--in-range", "range_specs", multiple=True,
              help="COL:LO:HI numeric bound (repeatable)")
@click.option("--matches", "match_specs", multiple=True,
              help="COL:REGEX pattern rule (repeatable)")
@click.option("--fail-on-violations", is_flag=True,
              help="exit 1 if any rule has violations (CI/ingest gate)")
def corpus_check(input_parquet: str, not_null_cols, unique_cols, range_specs,
                 match_specs, fail_on_violations: bool) -> None:
    """Declarative data-quality gate (operators.expect): all row-local
    and unique rules share ONE aggregation pass; JSON lines of
    (rule, n_violations) on stdout."""
    from id3c_spark.operators import expect

    rules = []
    for c in not_null_cols:
        rules.append(expect.not_null(c))
    for c in unique_cols:
        rules.append(expect.unique(*[x.strip() for x in c.split(",")]))
    for spec in range_specs:
        col, lo, hi = spec.rsplit(":", 2)
        rules.append(expect.in_range(col, float(lo), float(hi)))
    for spec in match_specs:
        col, pattern = spec.split(":", 1)
        rules.append(expect.matches(col, pattern))
    if not rules:
        raise click.UsageError("no rules given")
    spark = get_spark("corpus-check")
    report = expect.check(spark.read.parquet(input_parquet), rules).collect()
    bad = 0
    for row in report:
        click.echo(json.dumps(row.asDict()))
        bad += row["n_violations"]
    if fail_on_violations and bad:
        raise SystemExit(1)


@corpus.command("score")
@click.argument("input_parquet")
@click.option("--output", required=True, help="parquet of (doc_id, n_bigrams, cross_entropy)")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_score(input_parquet: str, output: str, id_col: str, text_col: str) -> None:
    """Bigram-LM cross-entropy scoring (CCNet-style quality signal):
    self-trained on the corpus; low = typical text, high = outlier."""
    from id3c_spark.operators.lm import bigram_lm_score

    spark = get_spark("corpus-score")
    docs = spark.read.parquet(input_parquet)
    scored = bigram_lm_score(docs, id_col=id_col, text_col=text_col)
    scored.write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"scored": spark.read.parquet(output).count()}))


@corpus.command("keywords")
@click.argument("input_parquet")
@click.option("--output", required=True, help="parquet of (doc_id, term, tf, score, rank)")
@click.option("--top", default=3, show_default=True, help="keywords per document")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_keywords(input_parquet: str, output: str, top: int,
                    id_col: str, text_col: str) -> None:
    """Top-k TF-IDF keywords per document (corpus audits, cluster naming)."""
    from id3c_spark.operators.search import tfidf_keywords

    spark = get_spark("corpus-keywords")
    docs = spark.read.parquet(input_parquet)
    tfidf_keywords(docs, id_col=id_col, text_col=text_col, k=top) \
        .write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"rows": spark.read.parquet(output).count()}))


@corpus.command("select")
@click.argument("input_parquet")
@click.option("--output", required=True, help="parquet of the selected documents")
@click.option("--target-filter", required=True,
              help="SQL boolean over the input marking the target slice, e.g. \"lang = 'en'\"")
@click.option("--top", default=1000, show_default=True, help="documents to keep")
@click.option("--buckets", default=256, show_default=True, help="hashed-unigram buckets")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_select(input_parquet: str, output: str, target_filter: str, top: int,
                  buckets: int, id_col: str, text_col: str) -> None:
    """DSIR importance selection: keep the documents most target-like
    under a hashed-unigram log-ratio model (Xie et al. 2023)."""
    from pyspark.sql import functions as F

    from id3c_spark.operators.lm import dsir_top_docs

    spark = get_spark("corpus-select")
    docs = spark.read.parquet(input_parquet)
    picked = dsir_top_docs(
        docs, F.expr(target_filter), id_col=id_col, text_col=text_col,
        n_buckets=buckets, k=top,
    )
    kept = docs.join(picked.select(id_col), id_col)
    kept.write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"selected": spark.read.parquet(output).count(),
                           "requested": top}))


@corpus.command("dedup")
@click.argument("input_parquet")
@click.option("--output", required=True,
              help="parquet of near-duplicate pairs (id_a, id_b, score)")
@click.option("--method", default="minhash", show_default=True,
              type=click.Choice(["exact", "minhash", "jaccard", "prefix", "simhash"]))
@click.option("--threshold", type=float, default=None,
              help="similarity threshold [default: 0.8]; for simhash, maps "
                   "to max hamming distance ceil((1-threshold)*bits); "
                   "rejected for exact (which has no tunable threshold)")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_dedup(input_parquet: str, output: str, method: str,
                 threshold: float | None, id_col: str, text_col: str) -> None:
    """Duplicate-pair detection with a pluggable candidate strategy:
    exact (content-hash groups), minhash (banded LSH), jaccard (shared-
    shingle blocking), prefix (PPJoin prefix filter — complete, no
    hashing), simhash (byte-band blocking)."""
    from id3c_spark.operators import dedup as dd

    # a threshold that would be silently ignored is a lie to the user:
    # exact has nothing to tune, simhash maps it to a hamming budget
    if method == "exact" and threshold is not None:
        raise click.UsageError("--threshold does not apply to --method exact")
    simhash_distance = 3  # legacy default when no threshold given
    if method == "simhash" and threshold is not None:
        import math

        # --threshold 0.95 → tolerate up to ceil(0.05 * 32) differing bits
        simhash_distance = max(0, math.ceil((1.0 - threshold) * 32))
        if simhash_distance > 3:
            raise click.UsageError(
                "--method simhash 4-byte banding is only complete for "
                "hamming distance <= 3 (threshold >= 0.90625); got "
                f"{threshold} (distance {simhash_distance})"
            )
    if threshold is None:
        threshold = 0.8
    spark = get_spark("corpus-dedup")
    docs = spark.read.parquet(input_parquet)
    if method == "exact":
        from pyspark.sql import functions as F

        h = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
        pairs = (
            h.alias("a").join(h.alias("b"), "__h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.lit(1.0).alias("score"))
        )
    elif method == "minhash":
        pairs = dd.minhash_lsh_pairs(docs, id_col, text_col, threshold=threshold) \
            .withColumnRenamed("jaccard", "score")
    elif method == "jaccard":
        pairs = dd.ngram_jaccard_pairs(docs, id_col, text_col,
                                       threshold=threshold, max_df=200) \
            .withColumnRenamed("jaccard", "score")
    elif method == "prefix":
        pairs = dd.prefix_filter_jaccard_pairs(docs, id_col, text_col,
                                               threshold=threshold) \
            .withColumnRenamed("jaccard", "score")
    else:  # simhash
        from pyspark.sql import functions as F

        pairs = dd.simhash_pairs(
            docs, id_col, text_col, max_distance=simhash_distance
        ).select(
            "id_a", "id_b", (1.0 - F.col("distance") / 32.0).alias("score")
        )
    pairs.write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"method": method,
                           "pairs": spark.read.parquet(output).count()}))


@corpus.command("tag")
@click.argument("input_parquet")
@click.option("--output", required=True,
              help="parquet of (doc_id, phrase, pos) occurrences")
@click.option("--phrase", "phrases", multiple=True,
              help="phrase to tag (repeatable)")
@click.option("--phrases-file", type=click.Path(exists=True),
              help="newline-delimited phrase list")
@click.option("--id-col", default="doc_id", show_default=True)
@click.option("--text-col", default="text", show_default=True)
def corpus_tag(input_parquet: str, output: str, phrases: tuple[str, ...],
               phrases_file: str | None, id_col: str, text_col: str) -> None:
    """Gazetteer/blocklist tagging: exact token-boundary occurrences of a
    phrase dictionary (multi-word supported), one broadcast join per
    phrase length — no per-phrase scans."""
    from id3c_spark.operators.dedup import gazetteer_tag

    plist = list(phrases)
    if phrases_file:
        plist += [ln.strip() for ln in open(phrases_file) if ln.strip()]
    if not plist:
        raise click.UsageError("provide --phrase and/or --phrases-file")
    spark = get_spark("corpus-tag")
    docs = spark.read.parquet(input_parquet)
    out = gazetteer_tag(docs, id_col, text_col, plist).withColumnRenamed(
        "id", id_col
    )
    out.write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"phrases": len(set(plist)),
                           "occurrences": spark.read.parquet(output).count()}))


@corpus.command("media")
@click.argument("input_parquet")
@click.option("--output", required=True, help="output parquet")
@click.option("--what", default="image-features", show_default=True,
              type=click.Choice(["image-features", "audio-features",
                                 "phash", "phash-pairs", "audio-pairs",
                                 "video-features", "video-phash",
                                 "video-signature", "video-pairs"]))
@click.option("--max-hamming", default=7, show_default=True)
@click.option("--max-frames", type=int, default=None,
              help="hash at most this many uniformly sampled frames per "
                   "video (long-form cost cap; video hash operations "
                   "only) [default: every frame]")
def corpus_media(input_parquet: str, output: str, what: str,
                 max_hamming: int, max_frames: int | None) -> None:
    """Multimodal column operations over a media table (media_id, kind,
    mime, content, meta): decode features, perceptual hashes, and banded
    near-duplicate pair retrieval — images, audio, and video."""
    from id3c_spark import multimodal as mm

    # an option that would be silently ignored is a lie to the user
    # (same contract as corpus dedup's --threshold)
    if max_frames is not None and what not in (
        "video-phash", "video-signature", "video-pairs"
    ):
        raise click.UsageError(
            "--max-frames only applies to video hash operations "
            "(video-phash / video-signature / video-pairs)"
        )
    if what.startswith("video-"):
        # loud skip-visibility (r14 verdict): say up front which
        # compressed-video formats will decode for real vs. run
        # contract-only (stub → zero frames) in this environment, so a
        # deployment that gains PyAV/imageio is immediately exploited
        # and a no-codec environment can't mistake "no rows" for
        # "no duplicates"
        vstat = mm.decoder_status()["video"]
        stub_only = sorted(f for f, real in vstat.items() if not real)
        click.echo(
            json.dumps({"video_decoders": {
                "real": sorted(f for f, real in vstat.items() if real),
                "contract_only": stub_only,
            }}),
            err=True,
        )
    spark = get_spark("corpus-media")
    media = spark.read.parquet(input_parquet)
    if what == "image-features":
        out = mm.extract_image_features(media)
    elif what == "audio-features":
        out = mm.extract_audio_features(media)
    elif what == "phash":
        out = mm.image_phash(media)
    elif what == "phash-pairs":
        out = mm.image_phash_pairs(media, max_hamming=max_hamming)
    elif what == "audio-pairs":
        out = mm.audio_fingerprint_pairs(media, max_hamming=max_hamming)
    elif what == "video-features":
        out = mm.extract_video_features(media)
    elif what == "video-phash":
        out = mm.video_frame_phashes(media, max_frames=max_frames)
    elif what == "video-signature":
        out = mm.video_signature(media, max_frames=max_frames)
    else:  # video-pairs
        out = mm.video_signature_pairs(
            media, max_hamming=max_hamming, max_frames=max_frames
        )
    out.write.mode("overwrite").parquet(output)
    click.echo(json.dumps({"what": what,
                           "rows": spark.read.parquet(output).count()}))


@corpus.command("media-dedup-stream")
@click.argument("source_glob")
@click.option("--output", required=True,
              help="parquet dir of first-arrival (media_id, ts, signature) rows")
@click.option("--checkpoint", required=True, help="streaming checkpoint dir")
@click.option("--ts-col", default="ts", show_default=True,
              help="event-time column of the media stream")
@click.option("--watermark", default="1 hour", show_default=True,
              help="dedup horizon (state evicted past it)")
@click.option("--max-frames", type=int, default=None,
              help="hash at most this many uniformly sampled frames per "
                   "video [default: every frame]")
def corpus_media_dedup_stream(source_glob: str, output: str, checkpoint: str,
                              ts_col: str, watermark: str,
                              max_frames: int | None) -> None:
    """Streaming PERCEPTUAL video dedup (multimodal.streaming_video_dedup
    made operational, mirroring `corpus ingest`): drain media parquet
    files through micro-batch temporal signatures — bit-for-bit the
    batch video_signature — keeping the first arrival of each signature
    within the watermark horizon. Replay-safe via the checkpoint;
    re-containered or frame-duplicated re-deliveries of the same clip
    are dropped even though their content hashes differ."""
    from id3c_spark import multimodal as mm

    spark = get_spark("corpus-media-dedup-stream")
    # parquet readStream needs an explicit schema: take it from the
    # files already present (the cron-run shape — same trigger as ingest)
    schema = spark.read.parquet(source_glob).schema
    stream = spark.readStream.schema(schema).parquet(source_glob)
    uniq = mm.streaming_video_dedup(
        stream, ts_col=ts_col, watermark=watermark, max_frames=max_frames
    )
    q = (
        uniq.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        n = spark.read.parquet(output).count()
    except Exception:
        n = 0                    # no decodable videos → empty sink
    click.echo(json.dumps({"unique": n}))


@cli.command("explain")
@click.argument("query", required=False)
@click.option("--sf-dir", default="/root/testdata/sf0.1", show_default=True,
              help="parquet table directory the query runs against")
@click.option("--execute/--no-execute", "execute", default=True,
              show_default=True,
              help="run the query through the noop sink first so the "
                   "reported plan is AQE-final (runtime coalesce, skew "
                   "splits, broadcast demotions settled)")
@click.option("--plan", "show_plan", is_flag=True,
              help="also print the physical plan tree (stderr)")
@click.option("--list", "list_queries", is_flag=True,
              help="list catalog query names and exit")
@click.option("--all", "all_catalog", is_flag=True,
              help="audit every catalog query (one JSON line each; "
                   "pair with --no-execute for a fast sweep)")
def explain(query: str | None, sf_dir: str, execute: bool,
            show_plan: bool, list_queries: bool, all_catalog: bool) -> None:
    """Audited plan facts for a catalog query, on demand: shuffle exchanges,
    broadcast exchanges, reused stages, whole-stage-codegen spans,
    parquet scans, cache sites, and pushed filters — the 100 TB-shape
    evidence a user needs before trusting an operator at scale."""
    from id3c_spark.plans.audit import audit_query
    from id3c_spark.plans.queries import all_queries

    names = sorted(all_queries())
    if list_queries:
        for n in names:
            click.echo(n)
        return
    if all_catalog:
        if show_plan:
            raise click.UsageError("--plan is per-query; drop it for --all")
        spark = get_spark("explain")
        for n in names:
            try:
                facts = audit_query(spark, n, sf_dir, execute=execute)
            except Exception as e:  # keep sweeping; surface the failure
                facts = {"query": n, "error": str(e).splitlines()[0][:200]}
            click.echo(json.dumps(facts))
            spark.catalog.clearCache()
        return
    if not query:
        raise click.UsageError("pass a catalog query name (or --list / --all)")
    if query not in names:
        raise click.UsageError(
            f"unknown query {query!r} (see `id3c explain --list`)"
        )
    spark = get_spark("explain")
    facts = audit_query(spark, query, sf_dir, execute=execute,
                        include_plan=show_plan)
    if show_plan:
        click.echo(facts.pop("plan"), err=True)
    click.echo(json.dumps(facts))


# Load extra commands from extensions AFTER the built-in registrations,
# mirroring the reference's import-time entry-point scan
# (lib/id3c/cli/__init__.py:22-31). See id3c_spark/plugins.py for the
# discovery channels (entry points + ID3C_SPARK_CLI_PLUGINS env hook).
from id3c_spark.plugins import load_cli_plugins  # noqa: E402

load_cli_plugins(cli)


if __name__ == "__main__":
    cli()

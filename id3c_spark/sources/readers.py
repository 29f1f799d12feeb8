"""Source readers with id3c semantics (SURVEY §2.1).

  - NDJSON receiving load: copy_from_ndjson parity
    (lib/id3c/db/session.py:157-188) — exact document text preserved,
    sequential ids in file order.
  - CSV/TSV all-string scan: load_file_as_dataframe parity
    (lib/id3c/cli/io/pandas.py:48-74) — dtype=string, no NA inference,
    trim + ''/'na' → null normalization (manifest.py:331-336).
  - FASTQ directory scan: sequence_read_set.py:46-88 — glob *.fastq.gz,
    regex-capture the sample id, group urls per sample.
  - Excel workbook scan: stdlib zip+XML parser (xlsx is a zip of XML;
    openpyxl is not in this image) with the same all-string contract as CSV.
"""

from __future__ import annotations

import json
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_ndjson_receiving(spark: SparkSession, path: str) -> DataFrame:
    """One JSON document per line → (id, document, received). Document text
    is kept verbatim (receiving tables use ``json`` not ``jsonb`` to
    preserve the exact text, receiving/enrollment.sql:11-13), and ids are
    sequential 1..N in (file path, line) order — the Postgres-sequence
    parity the FIFO processors rely on (lib/id3c/db/session.py:157-188).

    Scale design: no global window. Each file *split* gets a local
    ``row_number`` (window keyed by split → parallel across splits, so even
    one huge file fans out), and split-level cumulative offsets come from a
    tiny per-split count aggregate (one row per ~128 MB split) that is
    collected and broadcast back, built from one JSON literal, so a split
    finds its offset by a hash lookup and the frame's size estimate stays
    known. Two passes over the text, but both are full-parallel scans;
    nothing funnels through one partition.
    """
    raw = (
        spark.read.text(path)
        .select(
            F.col("value"),
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.file_block_start").alias("__start"),
            F.monotonically_increasing_id().alias("__m"),
        )
        .filter(F.trim("value") != "")
    )
    splits = sorted(
        ((r["__file"], r["__start"], r["count"])
         for r in raw.groupBy("__file", "__start").count().collect()),
    )
    offsets, acc = [], 0
    for file, start, n in splits:
        offsets.append({"__file": file, "__start": start, "__off": acc})
        acc += n
    # the rows of one JSON literal: built in one call whatever the split
    # count, with a size estimate (empty input: no row, same schema)
    offmap = spark.sql(
        "SELECT inline(from_json(:offsets, "
        "'array<struct<__file: string, __start: long, __off: long>>'))",
        args={"offsets": json.dumps(offsets)},
    )
    w = Window.partitionBy("__file", "__start").orderBy("__m")
    return (
        raw.join(F.broadcast(offmap), ["__file", "__start"])
        .select(
            (F.col("__off") + F.row_number().over(w)).cast("long").alias("id"),
            F.col("value").alias("document"),
            F.current_timestamp().alias("received"),
        )
    )


def read_csv_all_strings(
    spark: SparkSession, path: str, sep: str = ",", header: bool = True,
) -> DataFrame:
    """All-columns-string CSV read with the reference's null normalization:
    trim, then '' and 'na' (case-insensitive) → null."""
    df = spark.read.csv(path, sep=sep, header=header, inferSchema=False)
    for c in df.columns:
        v = F.trim(F.col(c))
        df = df.withColumn(c, F.when(F.lower(v).isin("", "na"), None).otherwise(v))
    return df


def fastq_read_sets(
    spark: SparkSession,
    directory: str,
    sample_pattern: str = r".*/(\d+)_[^/]*\.fastq\.gz$",
) -> DataFrame:
    """Group FASTQ urls per regex-captured sample → (sample, urls[]),
    urls sorted for the unique-to-one-set invariant check."""
    files = spark.read.format("binaryFile").load(f"{directory}/*.fastq.gz").select(
        F.col("path").alias("url")
    )
    return (
        files.withColumn("sample", F.regexp_extract("url", sample_pattern, 1))
        .filter(F.col("sample") != "")
        .groupBy("sample")
        .agg(F.array_sort(F.collect_list("url")).alias("urls"))
    )


def select_columns_glob(df: DataFrame, *patterns: str) -> DataFrame:
    """Column projection by shell glob, case-insensitive — select_column(s)
    parity (manifest.py:471-510). Driver-side metadata op; raises if a
    pattern matches nothing (the reference errors the same way)."""
    import fnmatch

    keep: list[str] = []
    for pattern in patterns:
        hits = [c for c in df.columns
                if fnmatch.fnmatchcase(c.lower(), pattern.lower()) and c not in keep]
        if not hits:
            raise KeyError(f"no column matches {pattern!r}")
        keep.extend(hits)
    return df.select(*keep)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _xlsx_col_index(cell_ref: str) -> int:
    """'A1'→0, 'BC12'→54 — column index from the letter prefix."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _parse_xlsx(path: str, sheet: str | None = None) -> list[list[str | None]]:
    """Parse one worksheet of an .xlsx into rows of raw cell strings.

    xlsx is a zip archive of XML parts; this reads sharedStrings + the
    requested sheet with the stdlib only. Values are kept as the raw stored
    text (numbers stay in their serial form) — the all-string discipline of
    the reference's dtype=string read (lib/id3c/cli/io/pandas.py:91-133).
    """
    with zipfile.ZipFile(path) as zf:
        # Sheet name → target part, via workbook.xml + its rels.
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        rid_ns = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        targets = {r.get("Id"): r.get("Target") for r in rels.findall(f"{rel_ns}Relationship")}
        sheets = [
            (s.get("name"), targets.get(s.get(rid_ns), ""))
            for s in wb.find(f"{_XLSX_NS}sheets") or []
        ]
        if not sheets:
            raise ValueError(f"{path}: no worksheets")
        if sheet is None:
            target = sheets[0][1]
        else:
            matches = [t for (name, t) in sheets if name == sheet]
            if not matches:
                raise KeyError(f"{path}: no sheet named {sheet!r}")
            target = matches[0]
        target = target.lstrip("/")
        part = target if target.startswith("xl/") else f"xl/{target}"

        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))

        rows: list[list[str | None]] = []
        for row in ET.fromstring(zf.read(part)).iter(f"{_XLSX_NS}row"):
            cells: list[str | None] = []
            for c in row.findall(f"{_XLSX_NS}c"):
                idx = _xlsx_col_index(c.get("r", ""))
                while len(cells) < idx:
                    cells.append(None)
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    value = "".join(t.text or "" for t in c.iter(f"{_XLSX_NS}t"))
                elif ctype == "s":
                    v = c.find(f"{_XLSX_NS}v")
                    value = shared[int(v.text)] if v is not None and v.text else None
                else:  # n, str, b, e — raw stored text
                    v = c.find(f"{_XLSX_NS}v")
                    value = v.text if v is not None else None
                cells.append(value)
            rows.append(cells)
        return rows


def read_excel_all_strings(
    spark: SparkSession,
    path: str,
    sheet: str | None = None,
    opener=None,
) -> DataFrame:
    """Excel manifest scan (manifest.py:278-336, io/pandas.py:91-133):
    first row = header, every column StringType, trim + ''/'na' → null —
    identical contract to read_csv_all_strings.

    *path* may be a local path, an ``http(s)://`` URL, or a Google Sheets
    link (lib/id3c/cli/io/__init__.py:9-54, google.py:37-92) — remote
    workbooks download to a temp file first (sources/remote.py; *opener*
    injects the HTTP transport for tests/auth).

    The workbook parses driver-side (stdlib zip+XML): a manifest workbook is
    one small file, same locality as the reference's pandas read. A fleet of
    workbooks at scale would instead go through binaryFile + mapInPandas with
    this same parser applied per file.
    """
    from id3c_spark.sources.remote import fetch_local

    with fetch_local(path, opener=opener) as local_path:
        rows = _parse_xlsx(local_path, sheet)
    if not rows:
        raise ValueError(f"{path}: empty worksheet")
    header = [h if h else f"col{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    data = [tuple((r + [None] * width)[:width]) for r in rows[1:]]
    df = spark.createDataFrame(data, schema=", ".join(f"`{h}` string" for h in header))
    for c in df.columns:
        v = F.trim(F.col(c))
        df = df.withColumn(c, F.when(F.lower(v).isin("", "na"), None).otherwise(v))
    return df

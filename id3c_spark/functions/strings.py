"""String functions: hamming distance, barcode slices, citext, ISO week.

Reference parity:
  - hamming_distance / hamming_distance_lte:
    /root/reference/schema/deploy/functions/hamming_distance.sql:5-68
    (plpgsql char loop). Here: a single codegen'd higher-order expression —
    no Python, no loop, vectorizes across rows.
  - barcode_slices: /root/reference/schema/deploy/functions/barcode_slices.sql:5-27
    (positional 2-gram "{i}__{gram}" keys used to block the similarity join,
    dev/doc/01-barcode-slices.md).
  - citext comparisons: Postgres citext columns (site.sql:12-14,
    identifier.sql:31) → lower() on both sides.
  - ISO week label: to_char(date, 'IYYY-"W"IW')
    (shipping/views@2020-01-14b.sql:22). Spark has no ISO-year builtin;
    derived as year(thursday-of-iso-week) which is exact at year boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hamming_distance(a: Column, b: Column) -> Column:
    """Positions at which two equal-length strings differ.

    aggregate(sequence(1, len), 0, acc + (a[i] != b[i])) — stays JVM-side.
    Returns null if lengths differ (the reference raises; callers guard).
    """
    per_pos = F.aggregate(
        F.sequence(F.lit(1), F.length(a)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(F.substring(a, i, F.lit(1)) == F.substring(b, i, F.lit(1)), 0).otherwise(1),
    )
    return F.when(F.length(a) == F.length(b), per_pos)


def hamming_distance_lte(a: Column, b: Column, max_distance: int) -> Column:
    """Boolean: hamming(a, b) <= max_distance.

    The reference's short-circuit variant exists to abort a plpgsql loop
    early; as a vectorized expression the full distance is equally cheap.
    """
    return hamming_distance(a, b) <= F.lit(max_distance)


def barcode_slices(barcode: Column, width: int = 2) -> Column:
    """Positional n-gram keys '{i}__{gram}' for similarity-join blocking.

    Two length-8 barcodes within Hamming distance 2 must share at least one
    of these slices (pigeonhole over 4 disjoint 2-grams), so an equi-join on
    exploded slices is a complete prefilter for distance < 3.
    """
    return F.transform(
        F.sequence(F.lit(1), F.length(barcode) - (width - 1)),
        lambda i: F.concat(i.cast("string"), F.lit("__"), F.substring(barcode, i, F.lit(width))),
    )


def citext_eq(a: Column, b: Column) -> Column:
    """Case-insensitive equality (Postgres citext semantics)."""
    return F.lower(a) == F.lower(b)


def iso_week_label(ts: Column) -> Column:
    """Postgres to_char(x, 'IYYY-"W"IW') — e.g. '2020-W01': Spark's
    YEAROFWEEK is the ISO week-numbering year and weekofyear() the ISO
    week (plans/shipping.py spells the same label in SQL)."""
    d = F.to_date(ts)
    return F.concat(
        F.extract(F.lit("YEAROFWEEK"), d).cast("string"),
        F.lit("-W"),
        F.lpad(F.weekofyear(d).cast("string"), 2, "0"),
    )

"""Consensus-genome ETL (reference: lib/id3c/cli/command/etl/consensus_genome.py).

Documents (FIXTURES §2.7): {sample_identifier, reference_organism, status,
metadata.urls[], summary_stats, masked_consensus[{genomic_sequence,
sequence_segment, sequence_identifier}]}.

Reference flow: resolve organism by lquery lineage match
(consensus_genome.py:223-233), find_or_create_sequence_read_set by
(sample, urls) — arrays can't be unique-constrained so it's select-first
(129-170) — then upsert_genome on (sample, organism, srs) and
upsert_genomic_sequence on (segment, genome). 'notMapped' status → genome
recorded without sequences.

Spark shape: every table is written through the warehouse's one upsert
path (an empty batch writes nothing; no table is republished whole).
Read sets match on (sample_id, urls) with the urls array kept sorted, so
equal sets compare equal; genomes match on (sample, organism, read set)
with a null read set matched null-safely, the reference's partial unique
index (consensus-genome.sql:33). lquery '~' becomes a dot-path
prefix/regex predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import Warehouse, transactional
from id3c_spark.operators.merge import materialise

DOCUMENT_SCHEMA = T.StructType([
    T.StructField("sample_identifier", T.StringType()),
    T.StructField("reference_organism", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("metadata", T.StructType([
        T.StructField("urls", T.ArrayType(T.StringType())),
    ])),
    T.StructField("masked_consensus", T.ArrayType(T.StructType([
        T.StructField("genomic_sequence", T.StringType()),
        T.StructField("sequence_segment", T.StringType()),
        T.StructField("sequence_identifier", T.StringType()),
    ]))),
])

# reference_organism token → lineage lquery (consensus_genome.py docstring);
# matched against organism.lineage dot-paths with a prefix predicate.
ORGANISM_LQUERY = {
    "h1n1": "Influenza.A.H1N1",
    "h3n2": "Influenza.A.H3N2",
    "flu-b": "Influenza.B",
    "rsv-a": "RSV.A",
}
#: a genome's natural key (consensus-genome.sql:8-16,33)
GENOME_KEY = ["sample_id", "organism_id", "sequence_read_set_id"]


def match_organism(organisms: DataFrame, token_col):
    """lquery ~ parity: organism.lineage matched by path prefix."""
    mapping = F.create_map(*[
        x for tok, path in ORGANISM_LQUERY.items() for x in (F.lit(tok), F.lit(path))
    ])
    return mapping[F.lower(token_col)]


@transactional
def upload_read_sets(
    spark: SparkSession,
    read_sets: DataFrame,
    warehouse: Warehouse,
) -> tuple[DataFrame, dict[str, int]]:
    """sequence-read-set upload (cli/command/sequence_read_set.py:81-155):
    resolve each set's NWGC sample id against warehouse sample
    details.nwgc_id (array or legacy scalar), upsert known sets on
    (sample_id, sorted urls) and return the unknown-sample rows for the
    side-channel NDJSON the reference writes."""
    samples = warehouse.read("sample").select(
        "sample_id",
        F.coalesce(
            F.from_json(F.get_json_object("details", "$.nwgc_id"), "array<long>"),
            F.array(F.get_json_object("details", "$.nwgc_id").cast("long")),
        ).alias("nwgc_ids"),
    ).filter(F.col("nwgc_ids").isNotNull())

    rs = read_sets.select(
        F.col("sample").cast("long").alias("nwgc"),
        F.array_sort("urls").alias("urls"),
    )
    matched, m = materialise(
        rs.join(samples, F.array_contains(F.col("nwgc_ids"), F.col("nwgc")), "left"),
        unknown=F.count_if(F.col("sample_id").isNull()),
    )
    unknown = matched.filter(F.col("sample_id").isNull()).select(
        F.col("nwgc").cast("string").alias("sample"), "urls"
    )
    known, k = materialise(
        matched.filter(F.col("sample_id").isNotNull())
        .select("sample_id", "urls")
        .dropDuplicates(["sample_id", "urls"])
    )
    warehouse.upsert(
        "sequence_read_set", known, [["sample_id", "urls"]], "sequence_read_set_id",
        update_cols=[], details_col=None,
    )
    return unknown, {"uploaded": k["rows"], "unknown": m["unknown"]}


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    organisms: DataFrame,
) -> dict[str, int]:
    docs, d = materialise(
        receiving.select("id", F.from_json("document", DOCUMENT_SCHEMA).alias("d")).select(
            "id",
            F.col("d.sample_identifier").alias("sample_identifier"),
            match_organism(organisms, F.col("d.reference_organism")).alias("lineage_path"),
            F.col("d.status").alias("status"),
            # sorted: the read-set key compares url sets as arrays
            F.array_sort(F.coalesce(F.col("d.metadata.urls"), F.array().cast("array<string>")))
            .alias("urls"),
            F.col("d.masked_consensus").alias("masked"),
        ).filter(F.col("status").isin("complete", "notMapped"))
    )

    samples = warehouse.read("sample").select("sample_id", F.col("identifier").alias("sample_identifier"))
    orgs = organisms.select("organism_id", F.col("lineage").alias("lineage_path"))
    resolved = docs.join(samples, "sample_identifier").join(
        F.broadcast(orgs), "lineage_path", "left"
    )

    # sequence read sets: upsert on (sample_id, sorted urls)
    srs = warehouse.upsert(
        "sequence_read_set",
        resolved.filter(F.size("urls") > 0)
        .select("sample_id", "urls")
        .dropDuplicates(["sample_id", "urls"]),
        [["sample_id", "urls"]], "sequence_read_set_id",
        update_cols=[], details_col=None,
    )

    # consensus genomes: upsert on (sample, organism, srs); the merge
    # writes the table's columns only, so `masked` rides along for the
    # sequences below
    genome_updates, _ = materialise(
        resolved.join(
            srs.select("sequence_read_set_id", "sample_id", "urls"),
            ["sample_id", "urls"], "left",
        )
        .select(*GENOME_KEY, "masked")
        .dropDuplicates(GENOME_KEY)
    )
    genomes = warehouse.upsert(
        "consensus_genome", genome_updates, [GENOME_KEY], "consensus_genome_id",
        update_cols=[], details_col=None,
    )

    # genomic sequences: upsert on (segment, consensus_genome_id)
    seqs = (
        genome_updates.select(*GENOME_KEY, F.explode_outer("masked").alias("m"))
        .filter(F.col("m").isNotNull())
        .join(
            genomes.select("consensus_genome_id", *[F.col(k).alias(f"g_{k}") for k in GENOME_KEY]),
            [F.col(k).eqNullSafe(F.col(f"g_{k}")) for k in GENOME_KEY],
        )
        .select(
            F.col("m.sequence_identifier").alias("identifier"),
            F.lower("m.sequence_segment").alias("segment"),
            F.col("m.genomic_sequence").alias("seq"),
            "consensus_genome_id",
        )
        .dropDuplicates(["segment", "consensus_genome_id"])
    )
    warehouse.upsert(
        "genomic_sequence", seqs, [["segment", "consensus_genome_id"]], "genomic_sequence_id",
        update_cols=["identifier", "seq"], details_col=None,
    )

    return {
        "documents": d["rows"],
        "read_sets": warehouse.num_rows("sequence_read_set"),
        "genomes": warehouse.num_rows("consensus_genome"),
        "sequences": warehouse.num_rows("genomic_sequence"),
    }

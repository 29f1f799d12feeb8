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

Spark shape: urls arrays are keyed by a deterministic hash
(sha2 of the sorted url list) so the read-set MERGE is a plain equi-key
MERGE; lquery '~' becomes a dot-path prefix/regex predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import Warehouse
from id3c_spark.operators.merge import merge

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


def urls_key(urls_col):
    """Deterministic key for a urls set: sha2 of the sorted list — the
    MERGE-able stand-in for 'unique urls-to-one-set' (sequence-read-set.sql
    trigger)."""
    return F.sha2(F.to_json(F.array_sort(urls_col)), 256)


def match_organism(organisms: DataFrame, token_col):
    """lquery ~ parity: organism.lineage matched by path prefix."""
    mapping = F.create_map(*[
        x for tok, path in ORGANISM_LQUERY.items() for x in (F.lit(tok), F.lit(path))
    ])
    return mapping[F.lower(token_col)]


def upload_read_sets(
    spark: SparkSession,
    read_sets: DataFrame,
    warehouse: Warehouse,
) -> tuple[DataFrame, dict[str, int]]:
    """sequence-read-set upload (cli/command/sequence_read_set.py:81-155):
    resolve each set's NWGC sample id against warehouse sample
    details.nwgc_id (array or legacy scalar), MERGE known sets on
    (sample_id, urls hash) and return the unknown-sample rows for the
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
    matched = rs.join(
        samples, F.array_contains(F.col("nwgc_ids"), F.col("nwgc")), "left"
    )
    unknown = matched.filter(F.col("sample_id").isNull()).select(
        F.col("nwgc").cast("string").alias("sample"), "urls"
    )
    known = (
        matched.filter(F.col("sample_id").isNotNull())
        .select("sample_id", "urls", urls_key(F.col("urls")).alias("urls_hash"))
        .dropDuplicates(["sample_id", "urls_hash"])
    )
    n_known = known.count()
    if n_known:
        current = warehouse.read("sequence_read_set").withColumn(
            "urls_hash", urls_key(F.col("urls"))
        )
        srs = merge(
            current, known, [["sample_id", "urls_hash"]],
            "sequence_read_set_id", update_cols=["urls"], details_col=None,
        ).df
        warehouse.publish("sequence_read_set", srs.drop("urls_hash"))
    return unknown, {"uploaded": n_known, "unknown": unknown.count()}


def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    organisms: DataFrame,
) -> dict[str, int]:
    docs = receiving.select("id", F.from_json("document", DOCUMENT_SCHEMA).alias("d")).select(
        "id",
        F.col("d.sample_identifier").alias("sample_identifier"),
        match_organism(organisms, F.col("d.reference_organism")).alias("lineage_path"),
        F.col("d.status").alias("status"),
        F.coalesce(F.col("d.metadata.urls"), F.array().cast("array<string>")).alias("urls"),
        F.col("d.masked_consensus").alias("masked"),
    ).filter(F.col("status").isin("complete", "notMapped"))

    samples = warehouse.read("sample").select("sample_id", F.col("identifier").alias("sample_identifier"))
    orgs = organisms.select("organism_id", F.col("lineage").alias("lineage_path"))
    resolved = docs.join(samples, "sample_identifier").join(
        F.broadcast(orgs), "lineage_path", "left"
    )

    # sequence read sets: MERGE on (sample_id, urls hash)
    srs_updates = (
        resolved.filter(F.size("urls") > 0)
        .select(
            "sample_id",
            F.array_sort("urls").alias("urls"),   # canonical order on write
            urls_key(F.col("urls")).alias("urls_hash"),
        )
        .dropDuplicates(["sample_id", "urls_hash"])
    )
    current_srs = warehouse.read("sequence_read_set").withColumn(
        "urls_hash", urls_key(F.col("urls"))
    )
    srs = merge(
        current_srs, srs_updates, [["sample_id", "urls_hash"]],
        "sequence_read_set_id", update_cols=["urls"], details_col=None,
    ).df
    warehouse.publish("sequence_read_set", srs.drop("urls_hash"))
    srs_keyed = srs.select("sequence_read_set_id", "sample_id", "urls_hash")

    # consensus genomes: MERGE on (sample, organism, srs)
    genome_updates = (
        resolved.join(
            srs_keyed.withColumnsRenamed({"urls_hash": "uh"}),
            (resolved.sample_id == srs_keyed.sample_id)
            & (urls_key(resolved.urls) == F.col("uh")),
            "left",
        )
        .select(
            resolved.sample_id.alias("sample_id"),
            F.col("organism_id"),
            "sequence_read_set_id",
            F.col("masked"),
        )
        .dropDuplicates(["sample_id", "organism_id", "sequence_read_set_id"])
    )
    genomes = merge(
        warehouse.read("consensus_genome"),
        genome_updates.drop("masked"),
        [["sample_id", "organism_id", "sequence_read_set_id"]],
        "consensus_genome_id", update_cols=[], details_col=None,
    ).df
    warehouse.publish("consensus_genome", genomes)

    # genomic sequences: MERGE on (segment, consensus_genome_id)
    seqs = (
        genome_updates.select("sample_id", "organism_id", "sequence_read_set_id",
                              F.explode_outer("masked").alias("m"))
        .filter(F.col("m").isNotNull())
        .join(
            genomes.select("consensus_genome_id", "sample_id", "organism_id", "sequence_read_set_id"),
            ["sample_id", "organism_id", "sequence_read_set_id"],
        )
        .select(
            F.col("m.sequence_identifier").alias("identifier"),
            F.lower("m.sequence_segment").alias("segment"),
            F.col("m.genomic_sequence").alias("seq"),
            "consensus_genome_id",
        )
        .dropDuplicates(["segment", "consensus_genome_id"])
    )
    gs = merge(
        warehouse.read("genomic_sequence"), seqs,
        [["segment", "consensus_genome_id"]],
        "genomic_sequence_id", update_cols=["identifier", "seq"], details_col=None,
    ).df
    warehouse.publish("genomic_sequence", gs)

    return {
        "documents": docs.count(),
        "read_sets": warehouse.num_rows("sequence_read_set"),
        "genomes": warehouse.num_rows("consensus_genome"),
        "sequences": warehouse.num_rows("genomic_sequence"),
    }

"""Warehouse table bundle: the one upsert path over operators.merge.

Every ETL writes its tables through :meth:`Warehouse.upsert`: one
materialisation of the batch, then a bootstrap or a file-pruned
copy-on-write merge. No ETL republishes a whole table. The upsert_*
methods mirror the reference upsert family, each with its table's key
and update policy (citations inline). Tables are ParquetTable stores
(Delta-MERGE stand-in, see sources/store.py); every write is one plan,
with no per-row loops.

Each ETL entry point is one warehouse transaction (:func:`transactional`):
its upserts stage new versions, and they all go live in one snapshot
when it returns, or none of them does when it raises. An ETL runs the
upserts of tables that do not depend on each other together
(:func:`concurrently`): Spark plans and runs one action at a time per
caller, so independent writes only overlap when they are started
together. Each table has one writer at a time; a second upsert of a
table already being written raises instead of waiting.
"""

from __future__ import annotations

import contextvars
import functools
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from id3c_spark import schemas
from id3c_spark.operators import ann
from id3c_spark.operators.merge import materialise, merge
from id3c_spark.sources.store import ParquetTable, Snapshots, prune_keys

#: each table's merge key as its upsert_* method matches it: one key, or
#: alternate keys (a list of column lists)
MERGE_KEYS = {
    "target": ["identifier"],
    "site": ["identifier"],
    "individual": ["identifier"],
    "encounter": ["identifier"],
    "sample": [["identifier"], ["collection_identifier"]],
    "presence_absence": ["identifier"],
    "location": [["scale", "identifier"]],
    "encounter_location": [["encounter_id", "relation"]],
}


def cluster_key(key_cols) -> list[str]:
    """The columns a table is range-clustered on: its first match key,
    so later merges prune files on it."""
    return [k for k in ([key_cols[0]] if isinstance(key_cols[0], str) else list(key_cols[0])) if k]


def concurrently(*calls: Callable[[], object]) -> list:
    """Run each zero-argument call on its own thread, wait for every one
    to finish, and return their results in call order, or raise the
    first failure in call order. Each thread carries the caller's Spark
    job group and local properties, in a copy of its own: the properties
    are cloned when a call is wrapped, so each call is wrapped apart.
    Each also runs in a copy of the caller's context, so its writes join
    the caller's warehouse transaction."""
    session = SparkSession.active()
    with ThreadPoolExecutor(len(calls), thread_name_prefix="concurrently") as pool:
        futures = [
            pool.submit(contextvars.copy_context().run, inheritable_thread_target(session)(call))
            for call in calls
        ]
    return [f.result() for f in futures]


def transactional(run: Callable) -> Callable:
    """Run an ETL entry point as one transaction of the Warehouse passed
    to it (joining the caller's, when one is open)."""
    @functools.wraps(run)
    def wrapper(*args, **kwargs):
        warehouse = next(a for a in (*args, *kwargs.values()) if isinstance(a, Warehouse))
        with warehouse.transaction():
            return run(*args, **kwargs)
    return wrapper


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.snapshots = Snapshots(root)
        self.tables: dict[str, ParquetTable] = {
            name: ParquetTable(spark, os.path.join(root, name), snapshots=self.snapshots)
            for name in schemas.WAREHOUSE_SCHEMAS
        }

    def transaction(self):
        """Context manager: every write inside it is staged, and all go
        live in one snapshot when it exits normally; an exception (or
        ``rollback()`` on the transaction it yields) discards them.
        Nested transactions join the outermost; a write outside any is a
        transaction of its own. Readers of other Warehouse objects see
        only committed snapshots."""
        return self.snapshots.transaction()

    def read(self, name: str) -> DataFrame:
        tbl = self.tables[name]
        if tbl.exists():
            return tbl.read()
        return self.spark.createDataFrame([], schemas.WAREHOUSE_SCHEMAS[name])

    def num_rows(self, name: str) -> int:
        """Rows in a table's current version, from its parquet footers."""
        tbl = self.tables[name]
        return tbl.num_rows() if tbl.exists() else 0

    def publish(self, name: str, df: DataFrame) -> None:
        """Replace a table's contents (seeding; ETLs write through upsert)."""
        self.tables[name].publish(df)

    def upsert(self, name: str, updates: DataFrame, key_cols, id_col: str | None,
               **merge_kw) -> DataFrame:
        """Run operators.merge.merge through the file-granular copy-on-write
        path (sources/store.py merge_publish): footer min/max pruning on the
        merge keys means an ETL batch rewrites only the files it touches —
        the 100×-scale shape of the reference's per-row upsert transaction
        (db/__init__.py:182-326). First publish bootstraps the table and
        range-clusters it on the first match key so later merges prune.

        The batch is materialized once (localCheckpoint: it stays
        distributed), and that one pass also observes the prune keys
        (sources.store.prune_keys; not for the bootstrap, which prunes
        nothing), so the merge's single write is the only other Spark job
        of a small upsert. merge_publish decides the regime: a small batch
        into small candidate files merges in one task, with no exchange; a
        larger one runs the distributed plan. The merge reads a batch of
        at most ``AUTO_SHARD_ROWS`` rows as one partition, so that in the
        one-task regime it shares the candidates' task. A batch the caller
        already materialised is materialised again only to observe its
        prune keys. An empty batch, or one that changes no row, writes
        nothing. Returns the table as it now reads.

        Raises RuntimeError when another upsert of *name* is in flight:
        the order of two writes to one table must not depend on thread
        timing, so they are refused rather than queued."""
        tbl = self.tables[name]
        with tbl.claim():
            exists = tbl.exists()
            updates, batch = materialise(
                updates, **(prune_keys(key_cols, updates.columns) if exists else {})
            )
            if not batch["rows"]:
                return self.read(name)
            if not exists:
                base = self.spark.createDataFrame([], schemas.WAREHOUSE_SCHEMAS[name])
                tbl.publish(
                    merge(base, updates, key_cols, id_col, **merge_kw).df,
                    cluster_by=cluster_key(key_cols),
                )
            else:
                small = updates.coalesce(1) if batch["rows"] <= ann.AUTO_SHARD_ROWS else updates
                tbl.merge_publish(
                    updates, key_cols,
                    lambda target: merge(target, small, key_cols, id_col, **merge_kw),
                    cluster_by=cluster_key(key_cols),
                )
            return self.read(name)

    # --- reference upsert family (SURVEY §2.9) ---------------------------

    def find_or_create_target(self, wanted: DataFrame) -> DataFrame:
        """find_or_create_target (etl/__init__.py:652-682): insert missing
        (identifier, control); never update existing."""
        return self.upsert(
            "target", wanted, MERGE_KEYS["target"], "target_id",
            update_cols=[], details_col=None, error_on_multi=False, update_keys=False,
        )

    def find_or_create_site(self, wanted: DataFrame) -> DataFrame:
        """find_or_create_site (etl/__init__.py:33-63); site identifiers are
        unique case-insensitively (site.sql:12-14) — normalize before match."""
        return self.upsert(
            "site", wanted, MERGE_KEYS["site"], "site_id",
            update_cols=[], details_col=None, error_on_multi=False, update_keys=False,
        )

    def upsert_individual(self, updates: DataFrame) -> DataFrame:
        """upsert_individual (etl/__init__.py:66-140): match identifier,
        update sex, merge details."""
        return self.upsert(
            "individual", updates, MERGE_KEYS["individual"], "individual_id",
            update_cols=["sex"],
        )

    def upsert_encounter(self, updates: DataFrame) -> DataFrame:
        """upsert_encounter (etl/__init__.py:143-249): match identifier."""
        return self.upsert(
            "encounter", updates, MERGE_KEYS["encounter"], "encounter_id",
            update_cols=["individual_id", "site_id", "encountered", "age_months"],
        )

    def upsert_sample(self, updates: DataFrame) -> DataFrame:
        """upsert_sample (db/__init__.py:182-326): alternate-key match on
        identifier OR collection_identifier; error on multi-match."""
        return self.upsert(
            "sample", updates, MERGE_KEYS["sample"], "sample_id",
            update_cols=["collection_identifier", "encounter_id", "collected", "access_role"],
        )

    def upsert_presence_absence(self, updates: DataFrame) -> DataFrame:
        """upsert_presence_absence (etl/__init__.py:548-649): match
        identifier; re-tests are corrections (present may flip)."""
        return self.upsert(
            "presence_absence", updates, MERGE_KEYS["presence_absence"], "presence_absence_id",
            update_cols=["sample_id", "target_id", "present"],
        )

    def upsert_location(self, updates: DataFrame) -> DataFrame:
        """upsert_location (etl/__init__.py:378-466): match (scale,
        identifier); hierarchy right-biased concat happens in the caller."""
        return self.upsert(
            "location", updates, MERGE_KEYS["location"], "location_id",
            update_cols=["hierarchy", "point_wkt", "polygon_wkt", "simplified_polygon_wkt"],
        )

    def upsert_encounter_location(self, updates: DataFrame) -> DataFrame:
        """upsert_encounter_location (etl/__init__.py:469-545): match
        (encounter_id, relation citext), the table's primary key."""
        return self.upsert(
            "encounter_location", updates, MERGE_KEYS["encounter_location"], None,
            update_cols=["location_id"],
        )

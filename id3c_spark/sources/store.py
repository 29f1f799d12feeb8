"""Copy-on-write parquet table store.

Local stand-in for a transactional table format: Delta/Iceberg jars are
not in this image (see pyspark guide), so writes go to a new versioned
directory and a ``_CURRENT`` pointer file flips atomically — readers never
see a partial write, and failed jobs leave the previous version intact
(the reference's "commit nothing on hard error" transaction guarantee,
SURVEY §7.3 item 5, via shadow-write-then-publish).

On a real cluster, swap ParquetTable for Delta and operators/merge.py
feeds MERGE INTO unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.operators.merge import MergeResult, check_errors_raised

#: per-version schema record, beside the data files (Spark skips ``_*``)
_SCHEMA_FILE = "_schema.json"


def zorder_key_expr(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) key expression interleaving the given numeric
    columns' bits — the multi-dimensional clustering layout (Delta's
    OPTIMIZE ZORDER BY): range-clustering files on the Z key keeps every
    participating column's per-file footer min/max range tight AT ONCE,
    so read_pruned / merge_publish skip files on ANY of the columns. A
    linear sort serves only its leading column.

    Each column is min/max-normalized to *bits* bits with one tiny
    global aggregate over *df* (collected: 2·|cols| scalars), then bits
    interleave JVM-side as a shiftright/and/shiftleft expression tree —
    whole-stage codegen, no UDF. NULLs map to bucket 0 (they cluster
    together at the low end). bits·|cols| must fit a long (≤ 62). The
    returned Column is name-bound (plain ``F.col`` refs), so it applies
    to any frame carrying *cols*.
    """
    if bits * len(cols) > 62:
        raise ValueError(f"z-key overflows a long: {bits} bits x {len(cols)} columns")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    parts: list[Column] = []
    for ci, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else None
        if span is None:
            bucket = F.lit(0).cast("long")
        else:
            # coalesce INSIDE least: Spark's least() skips NULL args, so
            # least(top, NULL) is top — a NULL value would land in the
            # highest bucket instead of 0
            bucket = F.least(
                F.lit(top).cast("long"),
                F.coalesce(
                    F.floor(
                        (F.col(c).cast("double") - F.lit(mn))
                        / F.lit(span)
                        * F.lit(top + 1)
                    ),
                    F.lit(0).cast("long"),
                ),
            ).cast("long")
        for b in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
    key = parts[0]
    for p in parts[1:]:
        key = key.bitwiseOR(p)
    return key


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    key_col: str = "_zkey",
) -> DataFrame:
    """*df* plus the :func:`zorder_key_expr` Morton key as *key_col*."""
    return df.withColumn(key_col, zorder_key_expr(df, cols, bits))


def _nullable(dt: T.DataType) -> T.DataType:
    """*dt* with every field, element and value nullable — the schema
    parquet reads back, whatever the written frame declared."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class ParquetTable:
    def __init__(self, spark: SparkSession, path: str, keep_versions: int = 2):
        """*keep_versions* controls vacuum retention: raise it (or pass a
        large value) to keep historical versions readable for time-travel
        — pinning the exact corpus snapshot a training run consumed is
        the reproducibility guarantee a data pipeline owes its models."""
        self.spark = spark
        self.path = path
        self.keep_versions = keep_versions
        self._schemas: dict[int, T.StructType] = {}
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending) — the time-travel
        horizon. Bounded by keep_versions at each flip."""
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit()
        )

    def _version_dir(self, version: int | None) -> tuple[int, str]:
        """(version, its directory); FileNotFoundError for vacuumed or
        unknown versions."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no published version at {self.path}")
        out = os.path.join(self.path, f"v{v}")
        if not os.path.isdir(out):
            raise FileNotFoundError(
                f"version {v} not on disk at {self.path} "
                f"(kept: {self.versions()}; raise keep_versions to retain more)"
            )
        return v, out

    def schema(self, version: int | None = None) -> T.StructType:
        """Schema of a version as its writer recorded it, so reads plan
        without a schema-inference job. A version without a record is
        inferred once and cached."""
        v, out = self._version_dir(version)
        if v not in self._schemas:
            try:
                with open(os.path.join(out, _SCHEMA_FILE)) as f:
                    self._schemas[v] = T.StructType.fromJson(json.load(f))
            except FileNotFoundError:
                self._schemas[v] = self.spark.read.parquet(out).schema
        return self._schemas[v]

    def read(self, version: int | None = None) -> DataFrame:
        """Current version, or a pinned historical *version* (time
        travel). Raises FileNotFoundError for vacuumed/unknown versions."""
        v, out = self._version_dir(version)
        return self.spark.read.schema(self.schema(v)).parquet(out)

    def num_rows(self, version: int | None = None) -> int:
        """Row count of a version from its parquet footers: no Spark job."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in self.files(version))

    def files(self, version: int | None = None) -> list[str]:
        """Data files of a version — the unit of copy-on-write."""
        v = self.current_version() if version is None else version
        if v is None:
            return []
        return sorted(glob.glob(os.path.join(self.path, f"v{v}", "*.parquet")))

    @staticmethod
    def _footer_range(fname: str, column: str) -> tuple | None:
        """(min, max) footer statistics for *column* across a file's row
        groups, or None when stats are absent (then the file must be
        treated as a rewrite candidate). Truncated string stats are safe:
        parquet truncation keeps min a lower bound and max an upper."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fname).metadata
        if column not in md.schema.names:
            return None
        idx = md.schema.names.index(column)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            return None
        return (min(mins), max(maxs))

    def merge_publish(
        self,
        updates: DataFrame,
        key_cols: Sequence[Sequence[str]] | Sequence[str],
        merge_fn: Callable[[DataFrame], MergeResult],
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """File-granular copy-on-write MERGE: rewrite ONLY the files whose
        footer min/max key ranges overlap the update batch's key range;
        hard-link every other file unchanged into the new version.

        This is the scale fix for the §2.9 write path (reference
        lib/id3c/db/__init__.py:182-326 upserts row-at-a-time; Delta/Iceberg
        MERGE prunes files the same way): a 100 TB table clustered on its
        merge key rewrites a few files per ETL batch, not the table.

        *key_cols* mirrors operators.merge.merge's alternate-key shape; the
        first column of each alternate key drives pruning (conservative —
        extra candidates are correct, missed ones are not, and footer
        non-overlap proves no row in the file can match).
        *merge_fn* receives the candidate-file rows (never the whole table)
        and returns the MergeResult of merging the batch into exactly those
        rows — operators.merge.merge over the candidates is exact because
        matches can only live in candidate files. The rows it inserts or
        updates are counted while the new version is written, and a merge
        that changes no row (every match unchanged: a re-run, a batch of
        duplicates) deletes the staged version and writes none — the
        reference's skip of no-op writes (db/__init__.py:213-231) at
        version granularity.
        *cluster_by*: range-cluster + sort the rewritten files on these
        columns so footer ranges stay tight for the NEXT merge.
        A merge check that fires while the new version is written raises
        MultipleMatchError; the version never goes live. An empty batch
        (the prune-key collect returns no row) writes no version either:
        the current version number comes back unchanged.
        """
        if not self.exists():
            raise FileNotFoundError(
                f"no published version at {self.path}: bootstrap with "
                "publish() (the target schema is not derivable from updates)"
            )
        alt_keys: list[list[str]] = (
            [list(k) for k in key_cols]
            if key_cols and not isinstance(key_cols[0], str)
            else [list(key_cols)]
        )
        prune_cols = sorted(
            {k[0] for k in alt_keys if k and k[0] in updates.columns}
        )
        schema = self.schema()
        files = self.files()
        candidates, carried = list(files), []
        if prune_cols:
            # Exact per-value pruning when the batch's distinct keys fit a
            # bounded driver sample (the common ETL-batch ≪ table case —
            # min/max-range-only pruning dies the moment one insert key
            # sits past the table's range, stretching the batch range over
            # every file), collected for every prune column in ONE action.
            # Past the cap, fall back to range overlap.
            import bisect

            cap = 100_000
            rows = updates.select(*prune_cols).distinct().limit(cap + 1).collect()
            if not rows:
                return self.current_version()
            per_col: dict[str, object] = {}
            if len(rows) > cap:
                lo_hi = updates.agg(
                    *[F.min(c) for c in prune_cols], *[F.max(c) for c in prune_cols]
                ).collect()[0]
                for i, c in enumerate(prune_cols):
                    per_col[c] = ("range", lo_hi[i], lo_hi[len(prune_cols) + i])
            else:
                for i, c in enumerate(prune_cols):
                    per_col[c] = ("values", sorted({r[i] for r in rows if r[i] is not None}))
            candidates, carried = [], []
            for fname in files:
                overlap = False
                for c in prune_cols:
                    spec = per_col[c]
                    if spec[0] == "values" and not spec[1]:
                        continue  # no non-null update keys for this column
                    rng = self._footer_range(fname, c)
                    if rng is None:
                        overlap = True
                        break
                    try:
                        if spec[0] == "values":
                            vals = spec[1]
                            i = bisect.bisect_left(vals, rng[0])
                            if i < len(vals) and vals[i] <= rng[1]:
                                overlap = True
                                break
                        else:
                            _, lo, hi = spec
                            if lo is not None and not (hi < rng[0] or lo > rng[1]):
                                overlap = True
                                break
                    except TypeError:  # incomparable stats type: stay safe
                        overlap = True
                        break
                (candidates if overlap else carried).append(fname)
        if candidates:
            target = self.spark.read.schema(schema).parquet(*candidates)
        else:
            target = self.spark.createDataFrame([], schema)

        changes = Observation()
        merged = merge_fn(target).observe_changes(changes)
        current = self.current_version()
        v = current + 1
        out = self._write(merged, v, cluster_by, zorder_by)
        if not changes.get["changed"]:
            shutil.rmtree(out)
            self._schemas.pop(v, None)
            return current
        self._carry(carried, out)
        self.flip(v)
        return v

    def pruned_files(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> list[str]:
        """The files a read_pruned(*ranges*) would open: footer min/max
        proven to overlap every [lo, hi] bound (None = unbounded), plus
        any file lacking usable stats (never prove-skip without proof)."""
        keep = []
        for fname in self.files(version):
            ok = True
            for c, (lo, hi) in ranges.items():
                rng = self._footer_range(fname, c)
                if rng is None:
                    continue  # no stats: cannot prove non-overlap
                try:
                    if (hi is not None and rng[0] > hi) or (
                        lo is not None and rng[1] < lo
                    ):
                        ok = False
                        break
                except TypeError:  # incomparable stats type: stay safe
                    continue
            if ok:
                keep.append(fname)
        return keep

    def pruned_files_in(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> list[str]:
        """The files a point-set lookup would open: footer min/max admits
        at least one of *values* (files lacking stats are kept — skipping
        must never drop rows). The IN-list analogue of pruned_files: on a
        table clustered by *column*, a scattered probe set (e.g. an ANN
        query's nprobe cells) touches only its cells' files."""
        vals = sorted(set(values))
        keep = []
        for fname in self.files(version):
            rng = self._footer_range(fname, column)
            if rng is None:
                keep.append(fname)
                continue
            try:
                if any(rng[0] <= v <= rng[1] for v in vals):
                    keep.append(fname)
            except TypeError:
                keep.append(fname)
        return keep

    def read_pruned_in(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping IN-list read: only files whose footer range
        admits one of *values*, with the exact membership filter on
        top."""
        schema = self.schema(version)
        keep = self.pruned_files_in(column, values, version)
        df = (
            self.spark.read.schema(schema).parquet(*keep)
            if keep
            else self.spark.createDataFrame([], schema)
        )
        return df.filter(F.col(column).isin(list(values)))

    def read_pruned(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read: open ONLY the files whose footer min/max
        overlaps every [lo, hi] in *ranges* (either bound None =
        unbounded), with the residual row filter applied on top. The
        file-level analogue of partition pruning — on a table clustered
        with cluster_by/zorder_by, a point or range lookup touches a few
        files of a 100 TB table instead of scanning it. Files without
        usable stats are read (skipping must never drop rows)."""
        schema = self.schema(version)
        keep = self.pruned_files(ranges, version)
        df = (
            self.spark.read.schema(schema).parquet(*keep)
            if keep
            else self.spark.createDataFrame([], schema)
        )
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(c) >= lo)
            if hi is not None:
                df = df.filter(F.col(c) <= hi)
        return df

    @staticmethod
    def _clustered(
        df: DataFrame,
        cluster_by: Sequence[str] | None,
        zorder_by: Sequence[str] | None,
        partitions: int | None = None,
    ) -> DataFrame:
        """Apply the write layout: range-partition + sort on the cluster
        columns, or on a Morton key over *zorder_by* (dropped before the
        write — it is a layout device, not data). *partitions* pins the
        file count (an explicit repartition count opts out of AQE's
        partition coalescing, which would otherwise fold a small table
        into one file and defeat layout tests / incremental compaction
        targets); None sizes by spark.sql.shuffle.partitions + AQE."""
        if zorder_by:
            df = with_zorder_key(df, zorder_by)
            args = ([partitions] if partitions else []) + [F.col("_zkey")]
            return (
                df.repartitionByRange(*args)
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        if cluster_by:
            args = ([partitions] if partitions else []) + [
                F.col(c) for c in cluster_by
            ]
            return df.repartitionByRange(*args).sortWithinPartitions(*cluster_by)
        if partitions:  # honor an explicit file count even unclustered
            return df.repartition(partitions)
        return df

    def stage(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> int:
        """Write a new version directory WITHOUT flipping the pointer.
        Readers keep seeing the old version until flip(); a failure after
        staging leaves only an unreferenced directory behind. Lets a
        multi-table promotion do all its expensive writes first and flip
        every pointer in one quick final pass. *cluster_by*/*zorder_by*
        pick the file layout (tight footer ranges → read_pruned and
        merge_publish skip files)."""
        v = (self.current_version() or 0) + 1
        self._write(df, v, cluster_by, zorder_by, partitions)
        return v

    def _write(
        self,
        df: DataFrame,
        v: int,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> str:
        """Write *df* with the given layout as version *v* (not yet live)
        and record its schema. Every write path goes through here, so a
        merge check firing inside the write surfaces as MultipleMatchError
        and leaves only an unreferenced directory behind."""
        out = os.path.join(self.path, f"v{v}")
        with check_errors_raised():
            df = self._clustered(df, cluster_by, zorder_by, partitions)
            df.write.mode("overwrite").parquet(out)
        schema = _nullable(df.schema)
        tmp = os.path.join(out, f".{_SCHEMA_FILE}.tmp")
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, os.path.join(out, _SCHEMA_FILE))
        self._schemas[v] = schema
        return out

    @staticmethod
    def _carry(files: Sequence[str], out: str) -> None:
        """Hard-link unchanged *files* into version directory *out*."""
        for fname in files:
            dst = os.path.join(out, os.path.basename(fname))
            try:
                os.link(fname, dst)  # zero-copy carry-forward
            except OSError:
                shutil.copy2(fname, dst)

    def flip(self, v: int) -> None:
        """Atomically point readers at a previously staged version."""
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)
        self._vacuum(keep=self.keep_versions)

    def publish(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> int:
        """Write a new version, then flip the pointer (atomic rename)."""
        v = self.stage(df, cluster_by=cluster_by, zorder_by=zorder_by,
                       partitions=partitions)
        self.flip(v)
        return v

    def append(self, df: DataFrame, evolve: bool = False) -> int:
        """Append rows as a new version. With *evolve*, either side may
        carry columns the other lacks (schema evolution on append): the
        union fills the gaps with NULLs, so old rows acquire new columns
        as NULL and late producers of a dropped column keep working —
        the additive-only evolution contract a training corpus needs
        (never silently drops or retypes existing columns).

        Same-schema appends are FILE-GRANULAR: only the new rows are
        written; every existing file hard-links into the new version
        untouched, so a streaming micro-batch append costs O(batch), not
        O(table) — the same scale fix as merge_publish (a 100 TB corpus
        ingest cannot rewrite the corpus per micro-batch). The
        union-rewrite path remains only for schema evolution, where old
        files must acquire the new columns."""
        if not self.exists():
            return self.publish(df)
        cur_schema = self.schema()
        same = [f.name for f in cur_schema] == df.columns and all(
            f.dataType == g.dataType for f, g in zip(cur_schema, df.schema)
        )
        if not same and set(df.columns) == {f.name for f in cur_schema}:
            # column order differs only: align and retry the fast path
            aligned = df.select(*[f.name for f in cur_schema])
            if all(
                f.dataType == g.dataType
                for f, g in zip(cur_schema, aligned.schema)
            ):
                df, same = aligned, True
        if not same:
            return self.publish(
                self.read().unionByName(df, allowMissingColumns=evolve)
            )
        v = (self.current_version() or 0) + 1
        self._carry(self.files(), self._write(df, v))
        self.flip(v)
        return v

    def compact(self, target_files: int) -> int:
        """Rewrite the current version into *target_files* files (small-
        file compaction after many incremental appends — the OPTIMIZE
        step). Data is unchanged: readers see the same rows, just fewer,
        larger files; published as a normal new version so time travel
        and the atomic pointer flip still hold. coalesce() not
        repartition(): no shuffle, partitions merge in place.

        Full-table rewrite — O(table). For routine post-ingest upkeep on
        a large table use :meth:`compact_incremental`, which touches only
        the undersized files."""
        return self.publish(self.read().coalesce(target_files))

    def compact_incremental(
        self,
        min_file_bytes: int = 64 << 20,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """Incremental OPTIMIZE: bin-pack ONLY the files smaller than
        *min_file_bytes* into fewer files; every already-large file
        hard-links into the new version untouched. After many streaming
        micro-batch appends this is O(small-file debt), not O(table) —
        a 100 TB corpus pays for its stragglers, never for its bulk.
        No-op (returns the current version) when fewer than two files
        are undersized, so it is safe to run on a schedule.

        On a clustered table pass the SAME *cluster_by*/*zorder_by* as
        the original publish: the packed files then re-sort on the
        cluster key, so their footer ranges stay as tight as the bulk's
        and read_pruned keeps skipping them (a plain coalesce of
        interleaved appends would give the packed files full-width
        footers)."""
        small = [f for f in self.files() if os.path.getsize(f) < min_file_bytes]
        if len(small) < 2:
            return self.current_version() or 0
        large = [f for f in self.files() if f not in set(small)]
        bins = max(1, sum(os.path.getsize(f) for f in small) // min_file_bytes + 1)
        packed = self.spark.read.schema(self.schema()).parquet(*small)
        packed = (
            self._clustered(packed, cluster_by, zorder_by, int(bins))
            if (cluster_by or zorder_by)
            else packed.coalesce(int(bins))
        )
        v = (self.current_version() or 0) + 1
        self._carry(large, self._write(packed, v))
        self.flip(v)
        return v

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two versions (the CDC read
        `table_changes()` gives on Delta): rows only in *v_to* tagged
        ``insert``, rows only in *v_from* tagged ``delete`` — a merge
        update surfaces as its delete+insert pair.

        FILE-GRANULAR: files carried forward between the versions by
        hard link (same basename — merge_publish/append/compact never
        reuse a basename for different content) contribute equal
        multisets to both sides of the diff, so they cancel exactly and
        are never read. The exceptAll runs over only the files that
        differ — on a 100 TB table where one ETL run rewrote a few key
        ranges, the change feed costs O(rewritten files), not two full
        snapshots. Both sides read with *v_to*'s schema, so columns
        added by an evolving append read as NULL on the old side."""
        f_old = {os.path.basename(f): f for f in self.files(v_from)}
        f_new = {os.path.basename(f): f for f in self.files(v_to)}
        schema = self.schema(v_to)
        old_only = [f for b, f in f_old.items() if b not in f_new]
        new_only = [f for b, f in f_new.items() if b not in f_old]

        def part(files: list[str]) -> DataFrame:
            if not files:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(*files)

        added = part(new_only).exceptAll(part(old_only))
        removed = part(old_only).exceptAll(part(new_only))
        return added.withColumn("_change_type", F.lit("insert")).unionByName(
            removed.withColumn("_change_type", F.lit("delete"))
        )

    def _vacuum(self, keep: int) -> None:
        v = self.current_version() or 0
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= v - keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

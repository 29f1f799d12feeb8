"""Copy-on-write parquet table store with snapshot commits.

Local stand-in for a transactional table format (Delta/Iceberg jars are
not in this image, see the pyspark guide). A store root is a directory
of tables; each write goes to a new version directory of its table, and
a commit makes a set of staged versions live together with one atomic
file operation: the exclusive create of the root's next snapshot file,
``_snapshot-{n}.json``, which maps table → version. Readers take the
newest snapshot, so they see all of a transaction's writes or none, and
a failed or rolled-back transaction leaves every table on its old
version (the reference's "commit nothing on hard error" transaction,
SURVEY §7.3 item 5). A standalone table is a root with one table.

A MERGE (:meth:`ParquetTable.merge_publish`) runs in one of two regimes,
decided once per call: a small batch into small candidate files merges
in one task, with no exchange in its plan (the candidates are read as
``coalesce(1)`` and the new file sorted within that task); anything
larger runs the distributed plan and range-partitions its files. Either
way the batch is materialised once, and that pass observes its rows and
the keys the merge prunes candidate files on.

On a real cluster, swap ParquetTable for Delta and operators/merge.py
feeds MERGE INTO unchanged.
"""

from __future__ import annotations

import bisect
import contextlib
import contextvars
import glob
import json
import os
import re
import shutil
import socket
import tempfile
import threading
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.operators import ann
from id3c_spark.operators.merge import TASK_ROW, MergeResult, check_errors_raised, materialise

#: per-version schema record, beside the data files (Spark skips ``_*``)
_SCHEMA_FILE = "_schema.json"
#: a root's committed snapshots: table → version, one file per commit
_SNAPSHOT = re.compile(r"_snapshot-(\d+)\.json")
#: prefix of the file in a claimed version directory naming its owner
_CLAIM = "_claim-"


def _started(pid: int) -> str | None:
    """When process *pid* of this host started ("" where /proc does not
    say), or None when it does not run. With the pid it names a claim's
    owner, so a recycled pid does not pass for its predecessor."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[19]
    except OSError:
        pass
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return None
    except PermissionError:
        pass
    return ""


def _owner() -> str:
    """This process as a claim owner: host-pid-start."""
    return f"{socket.gethostname()}-{os.getpid()}-{_started(os.getpid())}"


def _dead(owner: str) -> bool:
    """Whether claim *owner* is a process of this host that has exited
    (an owner on another host, or unreadable, may still be writing)."""
    parts = owner.rsplit("-", 2)
    if len(parts) != 3 or parts[0] != socket.gethostname() or not parts[1].isdigit():
        return False
    return int(parts[1]) > 0 and _started(int(parts[1])) != parts[2]


def _describe(owner: str) -> str:
    """Claim *owner* for a message: its pid and host."""
    parts = owner.rsplit("-", 2)
    return f"pid {parts[1]} on host {parts[0]}" if len(parts) == 3 else owner


class CommitConflict(RuntimeError):
    """Another transaction committed the root's next snapshot first;
    nothing of this transaction went live."""


class Snapshots:
    """The commit log of a store root. Snapshot *n* names every table's
    live version; a commit creates snapshot n+1 from the snapshot its
    transaction started at, so of two transactions that start at the
    same snapshot exactly one commits and the other raises
    :class:`CommitConflict`. The log is kept whole (a few bytes a
    commit): however many commits landed since a transaction began, its
    snapshot n+1 already exists."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._latest: tuple[int, dict[str, int]] = (0, {})
        self._active: contextvars.ContextVar[Transaction | None] = contextvars.ContextVar(
            f"transaction:{path}", default=None
        )

    def _file(self, n: int) -> str:
        return os.path.join(self.path, f"_snapshot-{n}.json")

    def _numbers(self) -> list[int]:
        return [int(m[1]) for m in map(_SNAPSHOT.fullmatch, os.listdir(self.path)) if m]

    def latest(self) -> tuple[int, dict[str, int]]:
        """(n, table → version) of the newest committed snapshot; (0, {})
        before the first commit. Snapshot files are never changed or
        deleted, so the newest is found by probing forward from the last
        one seen, and each is parsed once."""
        n = self._latest[0] or max(self._numbers(), default=0)
        while os.path.exists(self._file(n + 1)):
            n += 1
        if n != self._latest[0]:
            with open(self._file(n)) as f:
                self._latest = (n, json.load(f))
        return self._latest

    def version(self, key: str) -> int | None:
        """*key*'s version as the caller sees it: the active transaction's
        (staged or its start snapshot's), else the newest snapshot's."""
        txn = self._active.get()
        return (txn.tables if txn else self.latest()[1]).get(key)

    @contextlib.contextmanager
    def transaction(self) -> Iterator[Transaction]:
        """Stage every write made inside the block and commit them in one
        snapshot when it exits normally; on an exception, delete what was
        staged. A transaction opened inside another (on this thread, or
        on a thread started with a copy of its context) joins the
        outermost one, which alone commits."""
        txn = self._active.get()
        if txn is not None:
            yield txn
            return
        txn = Transaction(self)
        token = self._active.set(txn)
        try:
            yield txn
        except BaseException:
            txn.rollback()
            raise
        finally:
            self._active.reset(token)
        txn.commit()

    def _commit(self, n: int, tables: dict[str, int]) -> None:
        """Exclusively create snapshot *n*: a hard link of a finished
        temporary file, so readers never see a partial snapshot."""
        fd, tmp = tempfile.mkstemp(prefix="._snapshot-", dir=self.path)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(tables, f, sort_keys=True)
            os.link(tmp, self._file(n))
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {n} of {self.path} was committed by another transaction"
            ) from None
        finally:
            os.remove(tmp)
        self._latest = (n, dict(tables))


class Transaction:
    """The versions one transaction claimed and staged. A claim is the
    exclusive create of the table's next version directory, holding a
    file that names its owner, so no two writers, in one process or in
    two, ever write into one version."""

    def __init__(self, snapshots: Snapshots):
        self.snapshots = snapshots
        self.base, tables = snapshots.latest()
        #: the start snapshot plus this transaction's staged versions
        self.tables = dict(tables)
        self._claims: dict[str, tuple[int, int]] = {}  # key -> (version, thread)
        self._dirs: list[tuple[ParquetTable, int]] = []  # every version claimed
        self._lock = threading.Lock()
        self._open = True

    def claim(self, table: ParquetTable) -> int:
        """Claim *table*'s next version for the calling thread (again the
        same version when it holds the claim already). RuntimeError when
        another writer holds it."""
        me = threading.get_ident()
        with self._lock:
            if not self._open:
                raise RuntimeError("the transaction has ended")
            held = self._claims.get(table.key)
            if held is not None and held[1] == me:
                return held[0]
            v = self.tables.get(table.key, 0) + 1
            table._claim(v)
            self._claims[table.key] = (v, me)
            self._dirs.append((table, v))
            return v

    def stage(self, table: ParquetTable, v: int) -> None:
        """Make claimed version *v* the table's version in this transaction."""
        with self._lock:
            del self._claims[table.key]
            self.tables[table.key] = v

    def release(self, table: ParquetTable, v: int) -> None:
        """Drop the claim of *v* and its directory unless it was staged."""
        with self._lock:
            if self._claims.get(table.key, (None,))[0] != v:
                return
            del self._claims[table.key]
            self._dirs.remove((table, v))
        table._discard(v)

    def rollback(self) -> None:
        """Delete every version this transaction claimed; nothing of it
        goes live, and the block's exit commits nothing."""
        with self._lock:
            self._open = False
            dirs, self._dirs = self._dirs, []
        for table, v in dirs:
            table._discard(v)

    def commit(self) -> None:
        """Publish the staged versions as the next snapshot (nothing to
        publish: no snapshot), then delete what no snapshot names."""
        with self._lock:
            if not self._open:
                return
            self._open = False
        live = [(t, v) for t, v in self._dirs if self.tables.get(t.key) == v]
        try:
            if live:
                self.snapshots._commit(self.base + 1, self.tables)
        except BaseException:
            live = []
            raise
        finally:
            for t, v in self._dirs:
                if (t, v) not in live:  # lost the commit, or superseded
                    t._discard(v)
        for t, _ in live:
            t._vacuum()


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


#: distinct batch keys per column that merge_publish prunes files on one
#: by one; past it, on the batch's key range
PRUNE_KEYS_CAP = 100_000


def _prune_columns(key_cols, columns: Sequence[str]) -> list[str]:
    """The columns a merge prunes candidate files on: the first column of
    each alternate key (operators.merge.merge's shape) that the batch
    carries."""
    alt_keys = [key_cols] if key_cols and isinstance(key_cols[0], str) else key_cols
    return sorted({k[0] for k in alt_keys if k and k[0] in columns})


def prune_keys(key_cols, columns: Sequence[str]) -> dict[str, Column]:
    """The aggregates :meth:`ParquetTable.merge_publish` prunes with, named
    for :func:`operators.merge.materialise`: per prune column, the batch's
    minimum and maximum and its distinct values (``keys:<column>``) among
    the first PRUNE_KEYS_CAP rows of each task. Observed while the batch
    is materialised, so they cost no Spark job, and the driver receives
    at most PRUNE_KEYS_CAP values per column from each task. The values
    are the batch's whole key set when it has at most PRUNE_KEYS_CAP rows;
    for a larger batch merge_publish counts its keys with a capped
    collect instead."""
    first = F.col(TASK_ROW) < PRUNE_KEYS_CAP
    out = {}
    for c in _prune_columns(key_cols, columns):
        out[f"keys:{c}"] = F.collect_set(F.when(first, F.col(c)))
        out[f"lo:{c}"] = F.min(c)
        out[f"hi:{c}"] = F.max(c)
    return out


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


def _footer_admits(
    fname: str,
    column: str,
    lo=None,
    hi=None,
    values: Sequence | None = None,
) -> bool:
    """Whether data file *fname* may hold a *column* value in [lo, hi]
    (None: unbounded) that is, when sorted *values* are given, one of
    them, judged on the file's footer min/max. True when the footer has
    no usable statistics or they do not compare with the bounds:
    skipping a file must never drop a row."""
    rng = ParquetTable._footer_range(fname, column)
    if rng is None:
        return True
    try:
        if (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo):
            return False
        if values is None:
            return True
        i = bisect.bisect_left(values, rng[0])
        return i < len(values) and values[i] <= rng[1]
    except TypeError:
        return True


class ParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        snapshots: Snapshots | None = None,
    ):
        """*keep_versions* controls vacuum retention: raise it (or pass a
        large value) to keep historical versions readable for time-travel
        — pinning the exact corpus snapshot a training run consumed is
        the reproducibility guarantee a data pipeline owes its models.
        *snapshots* is the root the table commits through (a Warehouse
        passes its own); by default the table is a root of its own."""
        self.spark = spark
        self.path = path
        self.keep_versions = keep_versions
        self._schemas: dict[int, T.StructType] = {}
        os.makedirs(path, exist_ok=True)
        self.snapshots = snapshots or Snapshots(path)
        #: the table's name in its root's snapshots
        self.key = os.path.relpath(path, self.snapshots.path)

    def current_version(self) -> int | None:
        """The live version, or inside a transaction the one it staged."""
        return self.snapshots.version(self.key)

    def exists(self) -> bool:
        return self.current_version() is not None

    def versions(self) -> list[int]:
        """Version numbers still on disk up to the current one (ascending)
        — the time-travel horizon. Bounded by keep_versions at each
        commit."""
        current = self.current_version() or 0
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= current
        )

    def _dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def _version_dir(self, version: int | None) -> tuple[int, str]:
        """(version, its directory); FileNotFoundError for vacuumed or
        unknown versions."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no published version at {self.path}")
        out = self._dir(v)
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

    def _read_files(self, files: Sequence[str], schema: T.StructType) -> DataFrame:
        """*files* read with *schema*; an empty frame when there are none."""
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def num_rows(self, version: int | None = None) -> int:
        """Row count of a version from its parquet footers: no Spark job."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in self.files(version))

    def files(self, version: int | None = None) -> list[str]:
        """Data files of a version — the unit of copy-on-write."""
        v = self.current_version() if version is None else version
        if v is None:
            return []
        return sorted(glob.glob(os.path.join(self._dir(v), "*.parquet")))

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

    @contextlib.contextmanager
    def claim(self) -> Iterator[int]:
        """Claim the table's next version for the block, inside the active
        transaction or one opened for the block (committed when it
        exits). A nested claim by the same thread gets the same version.
        RuntimeError at once when another writer holds the claim: the
        order of two writes to one table must not depend on timing."""
        with self.snapshots.transaction() as txn:
            v = txn.claim(self)
            try:
                yield v
            finally:
                txn.release(self, v)

    def _claim(self, v: int) -> None:
        """Create version directory *v* holding this process's claim
        file. A directory already there is refused while its writer may
        be running. One whose claims all name exited processes of this
        host, and that no snapshot names, is taken over: a writer killed
        mid-write blocks no later one. Of two takers, the one that moves
        the dead claim aside wins. A claim of another host's process is
        always refused, as this host cannot see whether it runs: the
        error names that host and the directory to delete once its
        writer is known to be gone."""
        out = self._dir(v)
        mine = os.path.join(out, _CLAIM + _owner())
        try:
            os.mkdir(out)
        except FileExistsError:
            if (self.snapshots.latest()[1].get(self.key) or 0) >= v:
                raise CommitConflict(
                    f"v{v} of {self.path} was committed after this transaction began"
                ) from None
            claims = sorted(n for n in os.listdir(out) if n.startswith(_CLAIM))
            owners = [_describe(n[len(_CLAIM):]) for n in claims]
            in_flight = RuntimeError(
                f"a write of {self.path} is already in flight: {out} is claimed "
                f"by {', '.join(owners) or 'a writer that has not named itself'}; "
                f"delete {out} once that writer is known to be gone"
            )
            if not claims or not all(_dead(n[len(_CLAIM):]) for n in claims):
                raise in_flight from None
            open(mine, "x").close()
            try:
                os.rename(os.path.join(out, claims[0]), os.path.join(out, f".{claims[0]}"))
            except FileNotFoundError:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(mine)
                raise in_flight from None
            for name in os.listdir(out):  # the dead writer's leftovers
                path = os.path.join(out, name)
                with contextlib.suppress(FileNotFoundError):
                    if os.path.isdir(path):
                        shutil.rmtree(path)
                    elif path != mine:
                        os.remove(path)
        else:
            open(mine, "x").close()

    def _stage(self, v: int) -> int:
        self.snapshots._active.get().stage(self, v)
        return v

    def merge_publish(
        self,
        updates: DataFrame,
        key_cols: Sequence[Sequence[str]] | Sequence[str],
        merge_fn: Callable[[DataFrame], MergeResult],
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """File-granular copy-on-write MERGE: rewrite ONLY the files whose
        footer min/max key ranges admit one of the update batch's keys;
        hard-link every other file unchanged into the new version.

        This is the scale fix for the §2.9 write path (reference
        lib/id3c/db/__init__.py:182-326 upserts row-at-a-time; Delta/Iceberg
        MERGE prunes files the same way): a 100 TB table clustered on its
        merge key rewrites a few files per ETL batch, not the table.

        *key_cols* mirrors operators.merge.merge's alternate-key shape; the
        first column of each alternate key drives pruning (conservative —
        extra candidates are correct, missed ones are not, and footer
        non-overlap proves no row in the file can match). The batch is
        materialised once (:func:`operators.merge.materialise`, a no-op
        for a copy already made with :func:`prune_keys`), which observes
        its rows and the prune keys, so pruning a batch of at most
        PRUNE_KEYS_CAP rows costs no Spark job.
        *merge_fn* receives the candidate-file rows (never the whole table)
        and returns the MergeResult of merging the batch into exactly those
        rows — operators.merge.merge over the candidates is exact because
        matches can only live in candidate files. The rows it inserts or
        updates are counted while the new version is written, and a merge
        that changes no row (every match unchanged: a re-run, a batch of
        duplicates) deletes the staged version and writes none — the
        reference's skip of no-op writes (db/__init__.py:213-231) at
        version granularity. An empty batch writes no version and never
        calls *merge_fn*: the current version number comes back unchanged.

        One regime decision per call. When the batch has at most
        ``AUTO_SHARD_ROWS`` rows and ``ann.fits_one_task`` passes for the
        candidate read (listed bytes at most ``AUTO_SHARD_BYTES``; no
        candidate file passes too), the merge runs in one task: *merge_fn*
        gets the candidates as ``coalesce(1)`` and the new file is sorted
        in that task. A *merge_fn* that reads its batch as one partition
        too (Warehouse.upsert does) merges with no exchange: the batch's
        checkpoint plus one write job. Otherwise the merge is distributed
        and the rewritten files range-partitioned.
        *cluster_by* / *zorder_by*: sort the rewritten files on these
        columns, or on their Morton key, so footer ranges stay tight for
        the NEXT merge.
        A merge check that fires while the new version is written raises
        MultipleMatchError; the version never goes live.
        """
        if not self.exists():
            raise FileNotFoundError(
                f"no published version at {self.path}: bootstrap with "
                "publish() (the target schema is not derivable from updates)"
            )
        updates, batch = materialise(updates, **prune_keys(key_cols, updates.columns))
        if not batch["rows"]:
            return self.current_version()
        with self.claim() as v:
            current = self.current_version()
            files = self.files()
            candidates, carried = list(files), []
            columns = _prune_columns(key_cols, updates.columns)
            if columns:
                # Exact per-value pruning while the batch's distinct keys
                # fit the cap (the common ETL-batch << table case —
                # min/max-range-only pruning dies the moment one insert key
                # sits past the table's range, stretching the batch range
                # over every file); past the cap, range overlap. A column
                # with no non-null batch key selects no file.
                keys = {c: batch[f"keys:{c}"] for c in columns}
                if batch["rows"] > PRUNE_KEYS_CAP:
                    # the observed sets hold only each task's first rows
                    rows = updates.select(*columns).distinct().limit(PRUNE_KEYS_CAP + 1).collect()
                    keys = ({c: {r[i] for r in rows} - {None} for i, c in enumerate(columns)}
                            if len(rows) <= PRUNE_KEYS_CAP else {})
                bounds = []
                for c in columns:
                    if c not in keys:
                        if batch[f"lo:{c}"] is not None:
                            bounds.append((c, {"lo": batch[f"lo:{c}"], "hi": batch[f"hi:{c}"]}))
                    elif keys[c]:
                        bounds.append((c, {"values": sorted(keys[c])}))
                candidates = []
                for fname in files:
                    hit = any(_footer_admits(fname, c, **b) for c, b in bounds)
                    (candidates if hit else carried).append(fname)

            target = self._read_files(candidates, self.schema())
            one_task = batch["rows"] <= ann.AUTO_SHARD_ROWS and (
                not candidates or ann.fits_one_task(target)
            )
            changes = Observation()
            merged = merge_fn(target.coalesce(1) if one_task else target).observe_changes(changes)
            if one_task:
                # one partition already when the batch was too (a coalesce
                # of one partition is free): sort it in its task, with no
                # range-sample job and no shuffle
                sort = ["_zkey"] if zorder_by else list(cluster_by or [])
                merged = (with_zorder_key(merged, zorder_by) if zorder_by else merged).coalesce(1)
                merged = merged.sortWithinPartitions(*sort).drop("_zkey") if sort else merged
                cluster_by = zorder_by = None
            out = self._write(merged, v, cluster_by, zorder_by)
            if not changes.get["changed"]:
                return current
            self._carry(carried, out)
            return self._stage(v)

    def pruned_files(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> list[str]:
        """The files a read_pruned(*ranges*) would open: footer min/max
        proven to overlap every [lo, hi] bound (None = unbounded), plus
        any file lacking usable stats (never prove-skip without proof)."""
        return [
            fname for fname in self.files(version)
            if all(_footer_admits(fname, c, lo, hi) for c, (lo, hi) in ranges.items())
        ]

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
        return [f for f in self.files(version) if _footer_admits(f, column, values=vals)]

    def read_pruned_in(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping IN-list read: only files whose footer range
        admits one of *values*, with the exact membership filter on
        top."""
        df = self._read_files(self.pruned_files_in(column, values, version), self.schema(version))
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
        df = self._read_files(self.pruned_files(ranges, version), self.schema(version))
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

    def _write(
        self,
        df: DataFrame,
        v: int,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> str:
        """Write *df* with the given layout into claimed version *v* (not
        yet live) and record its schema. Every write path goes through
        here, so a merge check firing inside the write surfaces as
        MultipleMatchError; the claim's release then deletes the version.
        The claimed directory is written into, never replaced."""
        out = self._dir(v)
        before = set(glob.glob(os.path.join(out, "*.parquet")))
        with check_errors_raised():
            df = self._clustered(df, cluster_by, zorder_by, partitions)
            df.write.mode("append").parquet(out)
        self._drop_empty(sorted(set(glob.glob(os.path.join(out, "*.parquet"))) - before))
        schema = _nullable(df.schema)
        tmp = os.path.join(out, f".{_SCHEMA_FILE}.tmp")
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, os.path.join(out, _SCHEMA_FILE))
        self._schemas[v] = schema
        return out

    @staticmethod
    def _drop_empty(files: Sequence[str]) -> None:
        """Delete the 0-row files among *files* (Spark writes one for an
        empty partition 0 beside the partitions that hold rows), judged by
        their footers. A write with no row keeps one file, so it still
        reads back empty with its schema."""
        import pyarrow.parquet as pq

        empty = [f for f in files if pq.read_metadata(f).num_rows == 0]
        if len(empty) == len(files):
            empty = empty[1:]
        for fname in empty:
            os.remove(fname)
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(os.path.dirname(fname), f".{os.path.basename(fname)}.crc"))

    @staticmethod
    def _carry(files: Sequence[str], out: str) -> None:
        """Hard-link unchanged *files* into version directory *out*."""
        for fname in files:
            dst = os.path.join(out, os.path.basename(fname))
            try:
                os.link(fname, dst)  # zero-copy carry-forward
            except OSError:
                shutil.copy2(fname, dst)

    def publish(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> int:
        """Write *df* as the table's next version. It goes live when the
        transaction commits: at once outside a transaction.
        *cluster_by*/*zorder_by* pick the file layout (tight footer
        ranges → read_pruned and merge_publish skip files)."""
        with self.claim() as v:
            self._write(df, v, cluster_by, zorder_by, partitions)
            return self._stage(v)

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
        with self.claim() as v:
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
            self._carry(self.files(), self._write(df, v))
            return self._stage(v)

    def compact(self, target_files: int) -> int:
        """Rewrite the current version into *target_files* files (small-
        file compaction after many incremental appends — the OPTIMIZE
        step). Data is unchanged: readers see the same rows, just fewer,
        larger files; published as a normal new version so time travel
        and the atomic snapshot commit still hold. coalesce() not
        repartition(): no shuffle, partitions merge in place.

        Full-table rewrite — O(table). For routine post-ingest upkeep on
        a large table use :meth:`compact_incremental`, which touches only
        the undersized files."""
        with self.claim():
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
        with self.claim() as v:
            small = [f for f in self.files() if os.path.getsize(f) < min_file_bytes]
            if len(small) < 2:
                return self.current_version() or 0
            large = [f for f in self.files() if f not in set(small)]
            bins = max(1, sum(os.path.getsize(f) for f in small) // min_file_bytes + 1)
            packed = self._read_files(small, self.schema())
            packed = (
                self._clustered(packed, cluster_by, zorder_by, int(bins))
                if (cluster_by or zorder_by)
                else packed.coalesce(int(bins))
            )
            self._carry(large, self._write(packed, v))
            return self._stage(v)

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
        old_only = self._read_files([f for b, f in f_old.items() if b not in f_new], schema)
        new_only = self._read_files([f for b, f in f_new.items() if b not in f_old], schema)
        added = new_only.exceptAll(old_only)
        removed = old_only.exceptAll(new_only)
        return added.withColumn("_change_type", F.lit("insert")).unionByName(
            removed.withColumn("_change_type", F.lit("delete"))
        )

    def _discard(self, v: int) -> None:
        """Delete version *v*, which no snapshot names."""
        shutil.rmtree(self._dir(v), ignore_errors=True)
        self._schemas.pop(v, None)

    def _vacuum(self) -> None:
        """Delete all but the newest keep_versions committed versions."""
        for v in self.versions()[:-self.keep_versions]:
            shutil.rmtree(self._dir(v), ignore_errors=True)

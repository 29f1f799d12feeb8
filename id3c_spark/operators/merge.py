"""Generic MERGE/upsert with id3c warehouse-write semantics (SURVEY §2.9).

The reference's write path is row-at-a-time plpgsql/Python:
*select-for-update → compare → insert / update / skip*, erroring on >1
match (lib/id3c/db/__init__.py:182-326 ``upsert_sample``,
lib/id3c/cli/command/etl/__init__.py:66-649 the upsert_* family).

Here the whole batch is ONE lazy plan, and building it launches no Spark
job:

  1. every update row resolves to one target row: a single key is joined
     on directly; with alternate keys (``identifier``, then
     ``collection_identifier`` on the residue — db/__init__.py:232-235)
     each key joins a per-key (min id, max id) map of the target, and the
     first key that matched gives the target id;
  2. the checks — multi-match (db/__init__.py:316-318 "more than one
     match"), duplicate update keys, two update rows resolving to one
     target row — are ``raise_error`` filters inside the plan. They fire
     when the plan runs, so the store's write paths re-raise them as
     :class:`MultipleMatchError` (see :func:`check_errors_raised`) before
     the new version goes live;
  3. one full-outer join of target and updates on that key or id feeds one
     branch-selecting projection: untouched target rows, inserts with
     deterministic surrogate keys, updated rows and unchanged matches;
  4. skip-no-op-write change detection (``row(...)::text !=`` idiom,
     db/__init__.py:213-231) as a null-safe comparison — matched rows that
     did not change pass through untouched;
  5. the top-level JSON details merge (``coalesce(details,'{}') || new``)
     is a projection on matched rows; only rows with non-null incoming
     details reach the pandas UDF.

Catalyst does not dedupe common subplans across actions or union branches
(Spark SQL, SIGMOD 2015), so callers materialize the updates once and the
plan reads target and updates once each. With Delta/Iceberg this plan
feeds MERGE INTO directly; the parquet copy-on-write in sources/store.py
is the local stand-in.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.functions.json_ops import json_merge_udf

#: prefix of the in-plan check messages, found again in the Spark error
_CHECK = "MERGE CHECK: "
#: branch each merged row came from (see MergeResult.stats)
_BRANCH = "__branch"


class MultipleMatchError(RuntimeError):
    """An update row matched more than one existing row — the reference
    raises the same way rather than guessing (db/__init__.py:316-318)."""


@contextlib.contextmanager
def check_errors_raised():
    """Run Spark actions, re-raising a merge check that fired inside them
    as :class:`MultipleMatchError`."""
    try:
        yield
    except Exception as e:
        text = str(e)
        at = text.find(_CHECK)
        if at < 0:
            raise
        msg = text[at + len(_CHECK):].split("\n", 1)[0].split(" SQLSTATE", 1)[0]
        raise MultipleMatchError(msg) from e


@dataclass
class MergeResult:
    """Lazy merge outcome: ``tagged`` is the merged table plan plus the
    branch each row came from."""

    tagged: DataFrame

    @property
    def df(self) -> DataFrame:
        return self.tagged.drop(_BRANCH)

    def stats(self) -> dict[str, int]:
        """Rows updated, inserted and matched-but-unchanged: one aggregate
        over the plan (it runs the merge)."""
        counts = {"updated": 0, "inserted": 0, "unchanged": 0}
        with check_errors_raised():
            for r in self.tagged.groupBy(_BRANCH).count().collect():
                if r[0] in counts:
                    counts[r[0]] = r[1]
        return counts


def _null_safe_changed(cols: Sequence[str], dtypes: dict[str, str]) -> Column:
    """True where any column's RESOLVED value (null update = keep target,
    mirroring the coalesce in the output projection) differs from the
    target's — the skip-no-op-write discipline of db/__init__.py:213-231
    that keeps Delta/parquet file churn down.

    Maps are not orderable (<=> rejects them) → compared via key-sorted
    entry arrays, which also makes the comparison key-order independent,
    matching hstore equality semantics."""
    def canon(col: Column, dtype: str) -> Column:
        if dtype.startswith("map<"):
            return F.array_sort(F.map_entries(col))
        return col

    cond = F.lit(False)
    for c in cols:
        resolved = F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}"))
        dtype = dtypes.get(c, "")
        cond = cond | ~canon(resolved, dtype).eqNullSafe(canon(F.col(f"t_{c}"), dtype))
    return cond


def _fail(msg: str, cols: Sequence[str]) -> Column:
    return F.raise_error(F.concat(
        F.lit(_CHECK + msg), F.to_json(F.struct(*[F.col(c) for c in cols]))
    ))


def merge(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[Sequence[str]] | Sequence[str],
    id_col: str,
    update_cols: Sequence[str] | None = None,
    details_col: str | None = "details",
    error_on_multi: bool = True,
    update_keys: bool = True,
) -> MergeResult:
    """Upsert ``updates`` into ``target``; returns the merged plan.

    key_cols: one key, or a list of alternate keys tried in order (rows
    unmatched by key[0] are retried on key[1], matching upsert_sample's
    ``identifier OR collection_identifier``).
    id_col: surrogate key column of target (ids are assumed unique); new
    rows get xxhash64(match-key columns) — deterministic across runs
    (SURVEY §7.3 item 6 warns off monotonically_increasing_id) — or keep
    the natural key when id_col is one of the update columns.
    update_cols: columns overwritten on match (default: all shared columns
    except id and details). details_col merged top-level JSON.
    error_on_multi: the plan raises (MultipleMatchError once re-raised by
    the store) when an update matches more than one target row, when two
    update rows share a key, or when two update rows resolve to the same
    target row. With it off, an update matching several rows updates all
    of them (by alternate keys: the lowest id), and duplicate update keys
    write every changed copy, or one row for a target whose copies are
    all unchanged.
    """
    alt_keys: list[list[str]] = (
        [list(k) for k in key_cols]
        if key_cols and not isinstance(key_cols[0], str)
        else [list(key_cols)]
    )
    # A batch may carry only a subset of the table's columns (e.g. the
    # presence-absence ETL updates samples by identifier only, while the
    # manifest ETL carries both identifier and collection_identifier —
    # reference upserts pass explicit column lists per call site). Key
    # passes and update columns are restricted to what the batch has.
    alt_keys = [k for k in alt_keys if all(c in updates.columns for c in k)]
    if not alt_keys:
        raise ValueError("updates carry none of the match keys")
    if update_cols is None:
        update_cols = [
            c for c in updates.columns
            if c in target.columns and c != id_col and c != details_col
        ]
    update_cols = [c for c in update_cols if c in updates.columns]
    if update_keys:
        # upsert_sample's update_identifiers semantics (db/__init__.py:
        # 182-326): a row matched via one alternate key takes the update's
        # value for the OTHER key columns too (null update values keep the
        # target's — coalesce below). find_or_create passes update_keys=False.
        for c in dict.fromkeys(sum(alt_keys, [])):
            if c in updates.columns and c != id_col and c not in update_cols:
                update_cols.append(c)
    if details_col and details_col not in updates.columns:
        details_col = None
    dtypes = dict(target.dtypes)
    all_keys = sum(alt_keys, [])

    t = target.select(*[F.col(c).alias(f"t_{c}") for c in target.columns])
    u = updates.select(*[F.col(c).alias(f"u_{c}") for c in updates.columns])
    t_id = F.col(f"t_{id_col}")

    # --- 1. resolve every update row to one target row ---------------------
    if len(alt_keys) == 1:
        t_on = [f"t_{k}" for k in alt_keys[0]]
        u_on = [f"u_{k}" for k in alt_keys[0]]
    else:
        los, his = [], []
        for i, keys in enumerate(alt_keys):
            known = t
            for k in keys:
                known = known.filter(F.col(f"t_{k}").isNotNull())
            ids = known.groupBy(*[f"t_{k}" for k in keys]).agg(
                F.min(t_id).alias(f"__lo{i}"), F.max(t_id).alias(f"__hi{i}")
            )
            cond = F.lit(True)
            for k in keys:
                cond = cond & (F.col(f"u_{k}") == F.col(f"t_{k}"))
            u = u.join(ids, cond, "left").drop(*[f"t_{k}" for k in keys])
            los.append(F.col(f"__lo{i}"))
            his.append(F.col(f"__hi{i}"))
        u = u.withColumn("__rid", F.coalesce(*los))
        t_on, u_on = [f"t_{id_col}"], ["__rid"]

    # --- 2. checks, evaluated by whatever action runs the plan -------------
    check = None
    if error_on_multi:
        # Two update rows carrying the same key would both match one target
        # (or both insert under the same surrogate id). The reference's
        # row-at-a-time loop silently applies them in batch order; a
        # distributed batch has no order, so refuse instead of guessing —
        # callers that mean last-wins must pre-dedupe with an explicit
        # ordinal (e.g. redcap_det.complete_dets does).
        for i, keys in enumerate(alt_keys):
            u_keys = [f"u_{k}" for k in keys]
            u = u.withColumn(f"__n{i}", F.count(F.lit(1)).over(Window.partitionBy(*u_keys)))
            dup = F.col(f"__n{i}") > 1
            for k in u_keys:
                dup = dup & F.col(k).isNotNull()
            fail = _fail(f"duplicate update rows for key {keys}: ", u_keys)
            check = F.when(dup, fail) if check is None else check.when(dup, fail)
        multi_fail = _fail("update matched multiple rows: ", [f"u_{k}" for k in all_keys])
        if len(alt_keys) == 1:
            # the window shares the join's partitioning: no extra shuffle
            t = t.withColumn("__nt", F.count(F.lit(1)).over(Window.partitionBy(*t_on)))
            check = check.when(F.col("__u").isNotNull() & (F.col("__nt") > 1), multi_fail)
        else:
            # Checked across ALL alternate keys: an update whose identifier
            # matches row A while its collection_identifier matches row B
            # is ambiguous even though resolution only applies it to A.
            multi = F.lit(False)
            for lo, hi in zip(los, his):
                multi = multi | (lo != hi) | (lo != F.col("__rid"))
            u = u.withColumn("__nr", F.count(F.lit(1)).over(Window.partitionBy("__rid")))
            check = check.when(multi, multi_fail).when(
                F.col("__rid").isNotNull() & (F.col("__nr") > 1),
                _fail("update rows resolve to one target row: ", ["__rid"]),
            )

    # --- 3. one full-outer join on the key or the resolved id -------------
    cond = F.lit(True)
    for tc, uc in zip(t_on, u_on):
        cond = cond & (F.col(tc) == F.col(uc))
    j = t.withColumn("__t", F.lit(True)).join(
        u.withColumn("__u", F.lit(True)), cond, "full_outer"
    )
    if check is not None:
        j = j.filter(check.otherwise(F.lit(True)))
    is_matched = F.col("__t").isNotNull() & F.col("__u").isNotNull()
    is_insert = F.col("__t").isNull()

    # --- 4./5. change detection and the details merge ----------------------
    changed = _null_safe_changed(update_cols, dtypes)
    if details_col:
        t_d, u_d = F.col(f"t_{details_col}"), F.col(f"u_{details_col}")
        # The JSON merge is the one pandas UDF on the write path, and Spark
        # feeds a UDF every row of its input, conditional or not: only the
        # matched rows with incoming details take the UDF branch.
        need = is_matched & u_d.isNotNull()
        j = j.filter(need).withColumn(
            "__d", json_merge_udf(F.coalesce(t_d, F.lit("{}")), u_d)
        ).unionByName(j.filter(~need).withColumn("__d", t_d))
        changed = changed | (need & ~F.col("__d").eqNullSafe(t_d))

    j = j.withColumn(
        _BRANCH,
        F.when(is_insert, "inserted")
        .when(~is_matched, "untouched")
        .when(changed, "updated")
        .otherwise("unchanged"),
    )
    branch = F.col(_BRANCH)
    if not error_on_multi:
        # Duplicate update keys (or target rows sharing a key) leave several
        # pairs per target id; the checks otherwise guarantee one. A
        # per-target-id window over matched pairs (the partition key falls
        # back to a u-key hash for inserts, with the matched flag in the key
        # so a hash collision can never mix groups) drops the unchanged
        # copies when any pair of the same target changed and keeps one
        # unchanged row per id (every unchanged pair of an id projects the
        # identical target row, so the row_number pick is
        # content-deterministic).
        part_key = F.coalesce(
            t_id.cast("string"),
            F.xxhash64(*[F.col(f"u_{k}") for k in all_keys]).cast("string"),
        )
        w = Window.partitionBy(part_key, is_matched)
        j = j.withColumns({
            "__nch": F.sum((branch == "updated").cast("int")).over(w),
            "__rn": F.row_number().over(w.orderBy(F.lit(1))),
        }).filter(
            (branch != "unchanged") | ((F.col("__nch") == 0) & (F.col("__rn") == 1))
        )

    def pick(c: str) -> Column:
        if c == id_col and c not in updates.columns:
            ins = F.xxhash64(*[F.col(f"u_{k}") for k in all_keys])
        elif c in updates.columns:
            ins = F.col(f"u_{c}")
        else:
            ins = F.lit(None).cast(dtypes[c])
        if details_col and c == details_col:
            upd = F.col("__d")
        elif c in update_cols and c != id_col:
            upd = F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}"))
        else:
            upd = F.col(f"t_{c}")
        return (
            F.when(branch == "inserted", ins)
            .when(branch == "updated", upd)
            .otherwise(F.col(f"t_{c}"))
            .alias(c)
        )

    return MergeResult(j.select(*[pick(c) for c in target.columns], branch))


def find_or_create(
    target: DataFrame,
    wanted: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
) -> MergeResult:
    """``find_or_create_*`` parity (etl/__init__.py:33-63): insert missing
    keys, never update existing rows — a MERGE with whenNotMatched only."""
    return merge(
        target, wanted, [list(key_cols)], id_col,
        update_cols=[], details_col=None, error_on_multi=False, update_keys=False,
    )

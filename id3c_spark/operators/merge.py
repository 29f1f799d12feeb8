"""Generic MERGE/upsert with id3c warehouse-write semantics (SURVEY §2.9).

The reference's write path is row-at-a-time plpgsql/Python:
*select-for-update → compare → insert / update / skip*, erroring on >1
match (lib/id3c/db/__init__.py:182-326 ``upsert_sample``,
lib/id3c/cli/command/etl/__init__.py:66-649 the upsert_* family).

Here the whole batch is ONE lazy plan, and building it launches no Spark
job:

  1. every update row resolves to one target row: a single key matches
     directly; with alternate keys (``identifier``, then
     ``collection_identifier`` on the residue — db/__init__.py:232-235)
     each key finds the (min id, max id) of the target rows carrying it,
     and the first key that matched gives the target id;
  2. the checks — multi-match (db/__init__.py:316-318 "more than one
     match"), duplicate update keys, two update rows resolving to one
     target row — are ``raise_error`` filters inside the plan. They fire
     when the plan runs, so the store's write paths re-raise them as
     :class:`MultipleMatchError` (see :func:`check_errors_raised`) before
     the new version goes live;
  3. target and update rows paired on that key or id, as a full-outer
     join would pair them, feed one branch-selecting projection:
     untouched target rows, inserts with deterministic surrogate keys,
     updated rows and unchanged matches;
  4. skip-no-op-write change detection (``row(...)::text !=`` idiom,
     db/__init__.py:213-231) as a null-safe comparison — matched rows that
     did not change pass through untouched;
  5. the top-level JSON details merge (``coalesce(details,'{}') || new``)
     is a projection on matched rows; only rows with non-null incoming
     details reach the pandas UDF.

Steps 1 and 3 pair the rows with windows over one union of target and
updates, not with joins: distributed, each window key shuffles the union
once; given two one-partition inputs (the store's one-task regime,
sources/store.py), the plan runs in one task with no exchange.

Each step of the plan is built from SQL expression text, so building it
costs a few py4j round trips per DataFrame step, not one per column
operation.

Catalyst does not dedupe common subplans across actions or union branches
(Spark SQL, SIGMOD 2015), so callers materialize the updates once
(:func:`materialise`) and the plan reads target and updates once each.
The check mechanism is shared with the ETLs: :func:`checks` turns
(condition, message, error) rules into a ``raise_error`` predicate,
:func:`materialise` computes a batch once with its checks and row counts,
and :func:`check_errors_raised` re-raises a fired check as its error type.
With Delta/Iceberg this plan feeds MERGE INTO directly; the parquet
copy-on-write in sources/store.py is the local stand-in.
"""

from __future__ import annotations

import contextlib
import re
import threading
import weakref
from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from id3c_spark.functions.json_ops import json_merge_udf

#: branch each merged row came from (see MergeResult.stats)
_BRANCH = "__branch"
#: in-plan check messages start with this tag, found again in the Spark error
_CHECK = re.compile(r"CHECK\[([^\]]+)\]: ")
#: the error types in-plan checks raise, by the name in their tag
_ERRORS: dict[str, type[Exception]] = {}
#: the copies materialise produced, each with the counts observed writing it
_COPIES: weakref.WeakKeyDictionary[DataFrame, dict] = weakref.WeakKeyDictionary()
#: guards _COPIES: an ETL's independent upserts materialise on their own threads
_COPIES_LOCK = threading.Lock()


class MultipleMatchError(RuntimeError):
    """An update row matched more than one existing row — the reference
    raises the same way rather than guessing (db/__init__.py:316-318)."""


def _tag(error: type[Exception]) -> str:
    """Message prefix naming *error*; registers it for check_errors_raised."""
    name = f"{error.__module__}.{error.__qualname__}"
    _ERRORS[name] = error
    return f"CHECK[{name}]: "


def checks(*rules: tuple[Column, Column, type[Exception]]) -> Column:
    """A filter predicate that runs *rules* — (condition, message, error)
    — on every row, in order: the first rule whose condition holds fails
    the action running the plan, and :func:`check_errors_raised` re-raises
    it as ``error(message)``. Rows that pass every rule are kept."""
    out = None
    for cond, message, error in rules:
        fail = F.raise_error(F.concat(F.lit(_tag(error)), message))
        out = F.when(cond, fail) if out is None else out.when(cond, fail)
    return out.otherwise(F.lit(True))


@contextlib.contextmanager
def check_errors_raised():
    """Run Spark actions, re-raising an in-plan check that fired inside
    them as the error type it names (:func:`checks`; the merge checks
    raise :class:`MultipleMatchError`)."""
    try:
        yield
    except Exception as e:
        text = str(e)
        m = _CHECK.search(text)
        if m is None or m.group(1) not in _ERRORS:
            raise
        msg = text[m.end():].split("\n", 1)[0].split(" SQLSTATE", 1)[0]
        raise _ERRORS[m.group(1)](msg) from e


#: a column :func:`materialise`'s metrics may read: each row's ordinal
#: within its task (0, 1, ...), so a metric can bound what one task adds
TASK_ROW = "__task_row"


def materialise(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Compute *df* once and keep the result (``localCheckpoint``: the
    copy stays on the executors), re-raising any in-plan check it carries
    as its typed error. Returns the copy and its ``rows`` plus *metrics*
    (named aggregate columns, which may read :data:`TASK_ROW`), both
    observed while the copy is written, so they cost no extra Spark job.

    Idempotent: given a copy it produced, it returns that copy and the
    counts it recorded, with no Spark job, unless *metrics* names a
    count it did not record."""
    with _COPIES_LOCK:
        done = _COPIES.get(df)
    if done is not None and metrics.keys() <= done.keys():
        return df, done
    obs = Observation()
    # the low 33 bits of monotonically_increasing_id count a task's rows
    observed = df.withColumn(TASK_ROW, F.monotonically_increasing_id() % (1 << 33)).observe(
        obs, F.count(F.lit(1)).alias("rows"), *[c.alias(k) for k, c in metrics.items()]
    ).drop(TASK_ROW)
    with check_errors_raised():
        copy = observed.localCheckpoint()
    counts = obs.get
    with _COPIES_LOCK:
        _COPIES[copy] = counts
    return copy, counts


@dataclass
class MergeResult:
    """Lazy merge outcome: ``tagged`` is the merged table plan plus the
    branch each row came from."""

    tagged: DataFrame

    @property
    def df(self) -> DataFrame:
        return self.tagged.drop(_BRANCH)

    def observe_changes(self, obs: Observation) -> DataFrame:
        """:attr:`df` with the rows inserted or updated counted into
        *obs* as ``changed`` by whatever action writes it: no extra job."""
        changed = F.count_if(F.col(_BRANCH).isin("inserted", "updated")).alias("changed")
        return self.tagged.observe(obs, changed).drop(_BRANCH)

    def stats(self) -> dict[str, int]:
        """Rows updated, inserted and matched-but-unchanged: one aggregate
        over the plan (it runs the merge)."""
        counts = {"updated": 0, "inserted": 0, "unchanged": 0}
        with check_errors_raised():
            for r in self.tagged.groupBy(_BRANCH).count().collect():
                if r[0] in counts:
                    counts[r[0]] = r[1]
        return counts


def _q(name: str) -> str:
    """*name* as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _null_safe_changed(cols: Sequence[str], dtypes: dict[str, str]) -> str:
    """SQL: true where any column's RESOLVED value (null update = keep
    target, mirroring the coalesce in the output projection) differs from
    the target's — the skip-no-op-write discipline of
    db/__init__.py:213-231 that keeps Delta/parquet file churn down.

    Maps are not orderable (<=> rejects them) → compared via key-sorted
    entry arrays, which also makes the comparison key-order independent,
    matching hstore equality semantics."""
    def canon(sql: str, dtype: str) -> str:
        return f"array_sort(map_entries({sql}))" if dtype.startswith("map<") else sql

    terms = ["false"]
    for c in cols:
        t, dtype = _q(f"t_{c}"), dtypes.get(c, "")
        resolved = f"coalesce({_q(f'u_{c}')}, {t})"
        terms.append(f"NOT ({canon(resolved, dtype)} <=> {canon(t, dtype)})")
    return " OR ".join(terms)


def _fail(msg: str, cols: Sequence[str]) -> str:
    """SQL raising MultipleMatchError(*msg* + the row's *cols* as JSON)."""
    text = (_tag(MultipleMatchError) + msg).replace("\\", "\\\\").replace("'", "\\'")
    return f"raise_error(concat('{text}', to_json(struct({', '.join(map(_q, cols))}))))"


def _cols(names: Sequence[str]) -> str:
    """*names* as a SQL column list."""
    return ", ".join(map(_q, names))


def _match(t: DataFrame, u: DataFrame, t_keys, u_keys, t_id, counted: bool) -> DataFrame:
    """Target rows *t* paired with the update rows *u* that match them,
    as a full-outer join on the key would pair them: one row per matching
    (target, update) pair, a lone row for a target or update row that
    matches nothing, ``__t`` / ``__u`` true on the side a row has. With
    alternate keys, an update pairs with the target id it resolves to
    (``__rid``): the per-key min and max target id, ``__lo{i}`` and
    ``__hi{i}``, and the first key that matched gives it. With *counted*,
    update rows carry the counts the merge checks read: ``__n{i}`` update
    rows per key, and ``__nt`` target rows per key (one key) or ``__nr``
    update rows per resolved id (alternate keys).

    Built from one union of *t* and *u* and windows instead of joins.
    Each window partitions the union on a key, taken from the target's
    columns on target rows and from the update's on update rows, so a
    window partition holds the target and update rows that would join. A
    key whose first column is null matches nothing. Update rows take the
    partition's matchable target rows (``collect_list`` of a struct; an
    insert keeps a null one) and explode into one row per pair; a target
    row stays alone when no update row matches it. The windows meet any
    partitioning of the union: distributed, each window key shuffles it
    once; over two one-partition inputs the union is one partition too,
    and the whole match runs in its task with no exchange, whatever Spark
    estimates the inputs' sizes to be (it reshuffles a join of two
    one-partition children when an estimate is unknown or large)."""
    rows = t.selectExpr("*", "true AS __t").unionByName(
        u.selectExpr("*", "true AS __u"), allowMissingColumns=True
    )

    def window(tk, uk) -> tuple[str, str]:
        """(the window on a key of either side, whether that key can match),
        from the SQL of the target's and the update's key columns"""
        key = [f"CASE WHEN __t THEN {a} ELSE {b} END" for a, b in zip(tk, uk)]
        return f"PARTITION BY {', '.join(key)}", f"{key[0]} IS NOT NULL"

    counts: list[str] = []
    if len(t_keys) == 1:
        w, can = window(map(_q, t_keys[0]), map(_q, u_keys[0]))
        if counted:
            counts = [f"CASE WHEN __u THEN count(__u) OVER ({w}) END AS __n0",
                      f"CASE WHEN __u AND {can} THEN count(__t) OVER ({w}) END AS __nt"]
    else:
        for i, (tk, uk) in enumerate(zip(t_keys, u_keys)):
            wi, can = window(map(_q, tk), map(_q, uk))
            rows = rows.selectExpr(
                "*",
                f"CASE WHEN __u AND {can} THEN min({t_id}) OVER ({wi}) END AS __lo{i}",
                f"CASE WHEN __u AND {can} THEN max({t_id}) OVER ({wi}) END AS __hi{i}",
                *([f"CASE WHEN __u THEN count(__u) OVER ({wi}) END AS __n{i}"] if counted else []),
            )
        rows = rows.selectExpr(
            "*", f"coalesce({', '.join(f'__lo{i}' for i in range(len(t_keys)))}) AS __rid"
        )
        w, can = window([t_id], ["__rid"])
        if counted:
            counts = [f"CASE WHEN __u THEN count(__u) OVER ({w}) END AS __nr"]
    # only matchable target rows are collected: a null-key partition
    # holds no pair, however many target rows it has
    ts = f"struct({_cols([*t.columns, '__t'])})"
    rows = rows.selectExpr(
        "*", f"collect_list(CASE WHEN __t AND {can} THEN {ts} END) OVER ({w}) AS __tm",
        f"count(__u) OVER ({w}) AS __nu", *counts,
    )
    pairs = (f"CASE WHEN __u THEN IF({can} AND size(__tm) > 0, __tm, array(NULL)) "
             f"WHEN {can} AND __nu > 0 THEN array() ELSE array({ts}) END")
    keep = [c for c in rows.columns if c not in t.columns and c not in ("__t", "__tm", "__nu")]
    return rows.selectExpr(*map(_q, keep), f"explode({pairs}) AS __tr").selectExpr(
        "__tr.*", *map(_q, keep)
    )


def merge(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[Sequence[str]] | Sequence[str],
    id_col: str | None,
    update_cols: Sequence[str] | None = None,
    details_col: str | None = "details",
    error_on_multi: bool = True,
    update_keys: bool = True,
) -> MergeResult:
    """Upsert ``updates`` into ``target``; returns the merged plan.

    key_cols: one key, or a list of alternate keys tried in order (rows
    unmatched by key[0] are retried on key[1], matching upsert_sample's
    ``identifier OR collection_identifier``). A row whose key starts
    with a null never matches; the later columns of a composite key
    match null-safely, so a null key part still identifies one row (the
    reference's partial unique index on consensus genomes without a read
    set, consensus-genome.sql:33).
    id_col: surrogate key column of target (ids are assumed unique); new
    rows get xxhash64(match-key columns) — deterministic across runs
    (SURVEY §7.3 item 6 warns off monotonically_increasing_id) — or keep
    the natural key when id_col is one of the update columns. None: the
    table has no surrogate id and its one key, checked with
    error_on_multi, identifies a row.
    update_cols: columns overwritten on match (default: all shared columns
    except id and details). details_col merged top-level JSON.
    error_on_multi: the plan raises (MultipleMatchError once re-raised by
    the store) when an update matches more than one target row, when two
    update rows share a key, or when two update rows resolve to the same
    target row. With it off, an update matching several rows updates all
    of them (by alternate keys: the lowest id), and duplicate update keys
    write every changed copy, or one row for a target whose copies are
    all unchanged.

    Every projection, predicate and check is one SQL expression string,
    so building the plan costs one to two hundred py4j round trips, not
    one per column operation (thousands).
    """
    t_cols, u_cols = target.columns, updates.columns
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
    alt_keys = [k for k in alt_keys if all(c in u_cols for c in k)]
    if not alt_keys:
        raise ValueError("updates carry none of the match keys")
    if id_col is None and (len(alt_keys) > 1 or not error_on_multi):
        raise ValueError("a table without an id column takes one key and error_on_multi")
    if update_cols is None:
        update_cols = [
            c for c in u_cols
            if c in t_cols and c != id_col and c != details_col
        ]
    update_cols = [c for c in update_cols if c in u_cols]
    if update_keys:
        # upsert_sample's update_identifiers semantics (db/__init__.py:
        # 182-326): a row matched via one alternate key takes the update's
        # value for the OTHER key columns too (null update values keep the
        # target's — coalesce below). find_or_create passes update_keys=False.
        for c in dict.fromkeys(sum(alt_keys, [])):
            if c in u_cols and c != id_col and c not in update_cols:
                update_cols.append(c)
    if details_col and details_col not in u_cols:
        details_col = None
    dtypes = dict(target.dtypes)
    all_keys = sum(alt_keys, [])

    def tq(c: str) -> str:
        return _q(f"t_{c}")

    def uq(c: str) -> str:
        return _q(f"u_{c}")

    # Each key matches on its first column and, for a composite key, one
    # struct of the later columns: a window partition groups null fields
    # together, so a null key part still matches its twin.
    t_pack, u_pack, t_keys, u_keys = [], [], [], []
    for i, (first, *rest) in enumerate(alt_keys):
        t_keys.append([f"t_{first}"])
        u_keys.append([f"u_{first}"])
        if rest:
            packed = f"struct({', '.join(map(_q, rest))})"
            t_pack.append(f"{packed} AS __tk{i}")
            u_pack.append(f"{packed} AS __uk{i}")
            t_keys[i].append(f"__tk{i}")
            u_keys[i].append(f"__uk{i}")

    t = target.selectExpr(*[f"{_q(c)} AS {tq(c)}" for c in t_cols], *t_pack)
    u = updates.selectExpr(*[f"{_q(c)} AS {uq(c)}" for c in u_cols], *u_pack)
    t_id = tq(id_col) if id_col else None

    # --- 1./3. pair every update row with the target rows it matches -------
    j = _match(t, u, t_keys, u_keys, t_id, error_on_multi)

    # --- 2. checks, evaluated by whatever action runs the plan -------------
    if error_on_multi:
        # Two update rows carrying the same key would both match one target
        # (or both insert under the same surrogate id). The reference's
        # row-at-a-time loop silently applies them in batch order; a
        # distributed batch has no order, so refuse instead of guessing —
        # callers that mean last-wins must pre-dedupe with an explicit
        # ordinal (e.g. redcap_det.complete_dets does).
        check = [
            (f"__n{i} > 1 AND {_q(u_keys[i][0])} IS NOT NULL",
             _fail(f"duplicate update rows for key {keys}: ", [f"u_{k}" for k in keys]))
            for i, keys in enumerate(alt_keys)
        ]
        multi_fail = _fail("update matched multiple rows: ", [f"u_{k}" for k in all_keys])
        if len(alt_keys) == 1:
            check.append(("__u IS NOT NULL AND __nt > 1", multi_fail))
        else:
            # Checked across ALL alternate keys: an update whose identifier
            # matches row A while its collection_identifier matches row B
            # is ambiguous even though resolution only applies it to A.
            multi = " OR ".join(
                ["false"] + [f"__lo{i} <> __hi{i} OR __lo{i} <> __rid" for i in range(len(alt_keys))]
            )
            check += [
                (multi, multi_fail),
                ("__rid IS NOT NULL AND __nr > 1",
                 _fail("update rows resolve to one target row: ", ["__rid"])),
            ]
        j = j.filter(
            "CASE " + " ".join(f"WHEN {c} THEN {f}" for c, f in check) + " ELSE true END"
        )
    matched = "(__t IS NOT NULL AND __u IS NOT NULL)"

    # --- 4./5. change detection and the details merge ----------------------
    changed = _null_safe_changed(update_cols, dtypes)
    if details_col:
        t_d, u_d = tq(details_col), uq(details_col)
        # The JSON merge is the one pandas UDF on the write path, and Spark
        # feeds a UDF every row of its input, conditional or not: only the
        # matched rows with incoming details take the UDF branch.
        need = f"({matched} AND {u_d} IS NOT NULL)"
        j = j.filter(need).withColumn(
            "__d", json_merge_udf(F.expr(f"coalesce({t_d}, '{{}}')"), F.col(f"u_{details_col}"))
        ).union(j.filter(f"NOT {need}").selectExpr("*", f"{t_d} AS __d"))
        changed = f"{changed} OR ({need} AND NOT (__d <=> {t_d}))"

    j = j.selectExpr("*", (
        f"CASE WHEN __t IS NULL THEN 'inserted' WHEN NOT {matched} THEN 'untouched' "
        f"WHEN {changed} THEN 'updated' ELSE 'unchanged' END AS {_BRANCH}"
    ))
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
        u_hash = f"xxhash64({', '.join(uq(k) for k in all_keys)})"
        w = (f"PARTITION BY coalesce(CAST({t_id} AS STRING), CAST({u_hash} AS STRING)), "
             f"{matched}")
        j = j.selectExpr(
            "*",
            f"sum(CAST({_BRANCH} = 'updated' AS INT)) OVER ({w}) AS __nch",
            f"row_number() OVER ({w} ORDER BY 1) AS __rn",
        ).filter(f"{_BRANCH} <> 'unchanged' OR (__nch = 0 AND __rn = 1)")

    def pick(c: str) -> str:
        if c == id_col and c not in u_cols:
            ins = f"xxhash64({', '.join(uq(k) for k in all_keys)})"
        elif c in u_cols:
            ins = uq(c)
        else:
            ins = "NULL"
        if details_col and c == details_col:
            upd = "__d"
        elif c in update_cols and c != id_col:
            upd = f"coalesce({uq(c)}, {tq(c)})"
        else:
            upd = tq(c)
        return (f"CASE WHEN {_BRANCH} = 'inserted' THEN {ins} "
                f"WHEN {_BRANCH} = 'updated' THEN {upd} ELSE {tq(c)} END AS {_q(c)}")

    return MergeResult(j.selectExpr(*[pick(c) for c in t_cols], _BRANCH))


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

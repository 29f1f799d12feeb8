"""Bounded single-wave collect — the shared probe primitive.

Several operators make a regime decision or build a local model from a
relation they can PROVE is small (dedup_clusters' edge probe, kmv_jaccard's
k·|groups| sketch). The naive ``df.limit(cap + 1).collect()`` is bounded
but executes via ``executeTake``'s partition ramp (1 partition, then ×4
per wave): on a filtered relation far below the cap every partition must
be scanned anyway, so the extra waves are pure scheduler overhead
(measured 1.5–5 s per probe at sf0.1).  r12 worked around the ramp by
temporarily raising ``spark.sql.limit.initialNumPartitions`` — a
session-global conf mutation a concurrent same-session limit query could
inherit (ADVICE r12).

``bounded_collect`` replaces both shapes with a per-plan mechanism: an
Arrow ``mapInPandas`` stage that emits a bounded number of rows PER
PARTITION (early-exiting the batch iterator, so a huge partition stops
decoding past its allowance), collected by one ordinary single-wave job.
No session conf is touched, so nothing can leak across queries.

Driver-transfer bound (ADVICE r13, reworked r14): the per-partition
allowance is sized so the ONE direct collect can never ship more than
``direct_budget_rows`` to the driver, however many partitions overflow:

  - when ``partitions × (cap + 1)`` fits the budget, every partition
    keeps the full ``cap + 1`` allowance — the original r13 shape, one
    stage, completeness and overflow both decidable from the result;
  - past the budget the allowance shrinks to ``budget // partitions``
    (≥ 1), keeping the direct transfer ≤ ``max(budget, partitions)``
    rows.  The reduced allowance weakens per-partition truncation
    evidence, so the result is adjudicated in three tiers:

      * ``len(result) > cap`` — more than ``cap`` REAL rows were
        collected: overflow, definitively (truncation only removes
        rows);
      * ``len(result) < allowance`` — no partition can have hit its
        allowance (a truncating partition contributes exactly
        ``allowance`` rows), so nothing was dropped anywhere: the
        result is provably COMPLETE;
      * otherwise (ambiguous — some partition MAY have truncated below
        the true count): one extra tiny stage settles it —
        ``repartition(1)`` over the full-allowance capped rows, capped
        once more at ``cap + 1`` globally.  The single downstream task's
        Arrow reader early-exits (shuffle fetch is pull-based, so it
        never materializes the remaining blocks) and the driver receives
        at most ``cap + 1`` rows.  Executor-side shuffle write stays
        bounded at ``partitions × (cap + 1)`` rows — distributed,
        spillable.

The common probe case — a relation far smaller than its cap, the very
thing the primitive exists to prove — lands in the COMPLETE tier and
pays exactly one single-wave job regardless of the cap size, which is
what keeps kmv_jaccard's 4 M-row sketch guard as cheap as the small
regime probes (the r13 always-two-stage shape taxed every kmv call with
a second Python/Arrow round trip; measured ~1.2–1.3× on
kmv_source_jaccard).  Overflow returns are
truncated to ``cap + 1`` rows — callers only test ``len > cap``.

Tier behavior is exercised at a pathological partition count (2,048
partitions, reduced allowance, skewed and spread layouts) in
tests/test_bounded_collect.py::test_bounded_collect_pathological_partitions.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, Row

#: Hard ceiling on rows the direct single-stage collect may ship to the
#: driver (the ADVICE r13 OOM scenario: a large cap × many partitions).
#: 64 M rows of a 2-long probe row is ~1 GB driver-side worst case.
#: dedup_clusters' 32-partition × 1 M-cutoff probe (~32 M worst case)
#: keeps the full allowance; kmv's 4 M-row cap over 32 partitions
#: (128 M worst case) gets a 2 M-row per-partition allowance — still one
#: stage in the non-pathological regime.
DIRECT_BUDGET_ROWS = 64 * 1024 * 1024


def _head_cap(limit: int):
    """mapInPandas fn emitting at most *limit* rows per partition,
    early-exiting the Arrow batch iterator past the allowance."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        taken = 0
        for pdf in batches:
            if taken >= limit:
                return                      # stop decoding Arrow batches
            take = min(len(pdf), limit - taken)
            taken += take
            if take:
                yield pdf.head(take)

    return fn


def bounded_collect(
    df: DataFrame,
    cap: int,
    direct_budget_rows: int = DIRECT_BUDGET_ROWS,
) -> List[Row]:
    """Collect *df* with bounded driver transfer (≤ ``max(budget,
    partitions)`` rows on the direct attempt, ≤ ``cap + 1`` on the rare
    adjudication stage).  ``len(result) <= cap`` guarantees the result
    is the complete relation; ``len(result) > cap`` signals overflow
    (the caller's cue to take the distributed path or raise).

    The rare ambiguous tier recomputes *df* from scratch (the direct
    attempt's rows are discarded), so a heavy upstream pipeline runs
    twice in that regime; a nondeterministic *df* could even disagree
    between the two executions, though the returned result is
    internally consistent because only the adjudication stage's rows
    are returned.  Acceptable: the tier requires BOTH a reduced
    allowance (plan estimated past the row budget) AND a collected size
    in the narrow [allowance, cap] band."""
    full = cap + 1
    # Partition count estimate from the compiled plan.  Converting to
    # .rdd compiles (and under AQE may execute upstream shuffle query
    # stages of) the plan, and AQE skew-split can make runtime
    # partitions exceed this estimate — but the estimate only sizes the
    # direct-transfer allowance, so an under-count softens the budget
    # margin by the split factor rather than breaking any tier
    # (completeness and overflow adjudication don't depend on parts).
    parts = max(1, df.rdd.getNumPartitions())
    allowance = full if parts * full <= direct_budget_rows else max(
        1, direct_budget_rows // parts
    )

    rows = df.mapInPandas(_head_cap(allowance), df.schema).collect()
    if len(rows) > cap:
        return rows[:full]                  # overflow, definitively
    if allowance == full or len(rows) < allowance:
        return rows                         # provably complete
    # Ambiguous (reduced allowance, some partition may have truncated):
    # settle with full per-partition allowance + global truncation.
    capped = df.mapInPandas(_head_cap(full), df.schema)
    rows = capped.repartition(1).mapInPandas(
        _head_cap(full), df.schema
    ).collect()
    return rows[:full] if len(rows) > cap else rows

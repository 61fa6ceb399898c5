"""Incremental view maintenance: apply a CDC batch to a materialized
aggregate in O(touched keys), not O(state).

The reference's deck closes with "sync the change stream into an
analytics store" (slides 33-37); the natural next step a user takes is
keeping a *pre-aggregated* table (counts/sums per segment) current
without recomputing it from the full state on every batch. That is
classical incremental view maintenance (IVM) for distributive
aggregates:

    new_agg(g)  =  base_agg(g)  ⊕  delta(g)
    delta(g)    =  Σ contribution(post-state row of touched key)
                 − Σ contribution(pre-state row of touched key)

Only keys whose image moved contribute to the delta (an unchanged key
adds +1 and −1, which cancel), so it can be taken over any key set
that covers the touched keys: a semi join of the prior state to the
batch's keys, or the touched buckets of two committed versions of a
`BucketedStateTable` — what `streaming/ivm_sink.py` diffs after each
row-state commit. The cost is O(that key set) plus a grouped fold
whose shuffle partial aggregation keeps O(touched groups); state size
never appears. Compare `main.go:115-130`, which re-applies every
change to the *row* store but leaves any aggregate to a full re-query.

Supported aggregates are the distributive/self-inverse ones (COUNT,
SUM, and anything built on them, e.g. AVG = SUM/COUNT); MIN/MAX are
not invertible under deletes and need a different mechanism (re-agg of
the touched groups), which `delta_groups_reagg` provides.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.queries.base import _SPLIT, _split_sums


def _contributions(
    rows: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    weight: int,
    scale: int,
) -> DataFrame:
    """Per-row signed contribution vectors for the delta fold
    (``weight`` ±1).

    Measures are carried as exact split-long fixed-point pairs (the
    `dsum` representation) so the subtraction in the merge is exact —
    a double-typed delta would reintroduce order-dependent rounding
    and break agg(base ⊕ delta) == agg(full recompute) equality.
    """
    cols = [F.col(c) for c in group_cols]
    cols.append(F.lit(weight).alias("__w"))
    for alias, expr in measures.items():
        hi, lo = _split_sums(expr, scale)
        cols.append((hi * weight).alias(f"__hi_{alias}"))
        cols.append((lo * weight).alias(f"__lo_{alias}"))
    return rows.select(*cols)


def agg_delta(
    pre_rows: DataFrame | None,
    post_rows: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    *,
    scale: int = 6,
) -> DataFrame:
    """Group-level delta between two state snapshots of one key set.

    ``pre_rows`` / ``post_rows`` are the state rows of the same keys
    (the touched keys, or whole touched buckets) before and after one
    or more applies. ``pre_rows=None`` means cold start (no prior
    state). A key whose image did not move contributes +1 and −1 and
    cancels, so a group whose every counter nets to zero is dropped:
    a caller passing whole buckets gets only the groups that moved.
    Output: one row per moved group with ``__dn`` (count delta) and
    split-long measure deltas, ready for :func:`merge_agg`. Partial
    aggregation keeps the shuffle O(groups), not O(rows).
    """
    contrib = _contributions(post_rows, group_cols, measures, +1, scale)
    if pre_rows is not None:
        pre = _contributions(pre_rows, group_cols, measures, -1, scale)
        contrib = contrib.unionByName(pre)
    sums = {"__dn": "__w"}
    for alias in measures:
        sums[f"__dhi_{alias}"] = f"__hi_{alias}"
        sums[f"__dlo_{alias}"] = f"__lo_{alias}"
    delta = contrib.groupBy(*group_cols).agg(
        *[F.sum(c).alias(d) for d, c in sums.items()]
    )
    # a null sum had only null contributions: merge_agg adds it as 0
    moved = [F.coalesce(F.col(d), F.lit(0)) != 0 for d in sums]
    return delta.where(reduce(Column.__or__, moved))


def base_agg(
    state_rows: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    *,
    scale: int = 6,
) -> DataFrame:
    """Materialize the aggregate table the deltas maintain.

    Kept in the same split-long representation as the deltas so the
    merge is pure long/decimal arithmetic; render to doubles with
    :func:`finish_agg` only at the read edge.
    """
    contrib = _contributions(state_rows, group_cols, measures, +1, scale)
    sums = [F.sum("__w").alias("__n")]
    for alias in measures:
        sums.append(F.sum(f"__hi_{alias}").alias(f"__hi_{alias}"))
        sums.append(F.sum(f"__lo_{alias}").alias(f"__lo_{alias}"))
    return contrib.groupBy(*group_cols).agg(*sums)


def merge_agg(
    base: DataFrame | None,
    delta: DataFrame,
    group_cols: Sequence[str],
) -> DataFrame:
    """base ⊕ delta: full-outer merge on group, add counters exactly.

    Groups whose row count reaches zero disappear (the aggregate of an
    empty group is no row, matching a full recompute). ``base=None``
    means cold start. The join is group-cardinality-sized — both
    sides are aggregates, so AQE broadcasts the (small) delta side
    against a large base at scale.
    """
    gc = list(group_cols)
    if base is None:
        out = [F.col(c) for c in gc]
        out.append(F.col("__dn").alias("__n"))
        for c in delta.columns:
            if c.startswith("__dhi_") or c.startswith("__dlo_"):
                out.append(F.col(c).alias("__" + c[3:]))
        return delta.select(*out).where(F.col("__n") > 0)
    joined = base.join(delta, on=gc, how="full")
    n = F.coalesce(F.col("__n"), F.lit(0)) + F.coalesce(
        F.col("__dn"), F.lit(0)
    )
    out = [F.col(c) for c in gc]
    out.append(n.alias("__n"))
    for c in base.columns:
        if c.startswith("__hi_") or c.startswith("__lo_"):
            alias = c
            dcol = "__d" + c[2:]
            out.append(
                (
                    F.coalesce(F.col(c), F.lit(0))
                    + F.coalesce(F.col(dcol), F.lit(0))
                ).alias(alias)
            )
    return joined.select(*out).where(F.col("__n") > 0)


def finish_agg(
    agg: DataFrame,
    group_cols: Sequence[str],
    measure_aliases: Sequence[str],
    *,
    scale: int = 6,
    count_alias: str = "n_rows",
) -> DataFrame:
    """Render the split-long aggregate to user-facing doubles."""
    out = [F.col(c) for c in group_cols]
    out.append(F.col("__n").alias(count_alias))
    for alias in measure_aliases:
        total = F.col(f"__hi_{alias}").cast("decimal(38,0)") * F.lit(
            _SPLIT
        ) + F.col(f"__lo_{alias}")
        out.append((total / F.lit(10**scale)).cast("double").alias(alias))
    return agg.select(*out)


def delta_groups_reagg(
    full_state: DataFrame,
    touched_groups: DataFrame,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Non-invertible aggregates (MIN/MAX/distinct): re-aggregate only
    the groups the batch touched.

    ``touched_groups`` is the distinct group keys whose membership
    changed; the semi join prunes the state scan to those groups (on a
    state table partitioned by group this is partition pruning, not a
    shuffle), and the caller overwrites just those rows of the
    aggregate table. O(|touched groups| · group size), independent of
    the number of unaffected groups.
    """
    gc = list(group_cols)
    pruned = full_state.join(touched_groups, on=gc, how="left_semi")
    return pruned.groupBy(*gc).agg(*aggs)

"""Incremental view maintenance: apply a CDC batch to a materialized
aggregate in O(batch), not O(state).

The reference's deck closes with "sync the change stream into an
analytics store" (slides 33-37); the natural next step a user takes is
keeping a *pre-aggregated* table (counts/sums per segment) current
without recomputing it from the full state on every batch. That is
classical incremental view maintenance (IVM) for distributive
aggregates:

    new_agg(g)  =  base_agg(g)  ⊕  delta(g)
    delta(g)    =  Σ contribution(post-state row of touched key)
                 − Σ contribution(pre-state row of touched key)

Only *touched* keys (keys present in the batch) contribute to the
delta, so the plan's cost is O(|batch| + |touched keys|): one shuffle
of the batch by key, one key-pruned read of the prior state (bucket
pruning on a `BucketedStateTable`, or a semi join here), and a
grouped fold whose width is the number of touched groups — state size
never appears. Compare `main.go:115-130`, which re-applies every
change to the *row* store but leaves any aggregate to a full re-query.

Supported aggregates are the distributive/self-inverse ones (COUNT,
SUM, and anything built on them, e.g. AVG = SUM/COUNT); MIN/MAX are
not invertible under deletes and need a different mechanism (re-agg of
the touched groups), which `delta_groups_reagg` provides.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.queries.base import _SPLIT, _split_sums


def _contributions(
    rows: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    weight: int | Column,
    scale: int,
) -> DataFrame:
    """Per-row signed contribution vectors for the delta fold
    (``weight`` ±1, or a column holding it).

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
    """Group-level delta between two state snapshots of the touched keys.

    ``pre_rows`` / ``post_rows`` are the state rows of the keys the
    batch touches, before and after applying it (untouched keys must
    not appear — they cancel by construction and would only add I/O).
    ``pre_rows=None`` means cold start (no prior state). Output: one
    row per affected group with ``__dn`` (count delta) and split-long
    measure deltas, ready for :func:`merge_agg`.
    """
    post = _contributions(post_rows, group_cols, measures, +1, scale)
    if pre_rows is not None:
        pre = _contributions(pre_rows, group_cols, measures, -1, scale)
        post = post.unionByName(pre)
    return _sum_deltas(post, group_cols, measures)


def _sum_deltas(
    contrib: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
) -> DataFrame:
    sums = [F.sum("__w").alias("__dn")]
    for alias in measures:
        sums.append(F.sum(f"__hi_{alias}").alias(f"__dhi_{alias}"))
        sums.append(F.sum(f"__lo_{alias}").alias(f"__dlo_{alias}"))
    return contrib.groupBy(*group_cols).agg(*sums)


def agg_delta_from_batch(
    pre_rows: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    payload: Sequence[str],
    group_cols: Sequence[str],
    measures: Mapping[str, Column],
    *,
    lsn_col: str = "lsn",
    op_col: str = "op",
    scale: int = 6,
) -> DataFrame:
    """Group-level delta straight from (pre-images, change batch) in a
    SINGLE fold — no separate post-state input.

    Semantically identical to ``agg_delta(pre, apply_changes(pre,
    batch))`` but half the plan: the batch is folded per key once by
    the merge's own fold text (``merge._fold_ctes`` and
    ``merge._post_image``, one ``spark.sql`` parse), left-joined to the
    pre-images, and each key emits its −pre and +post contribution
    from the same join row via an exploded 2-element array. One key
    shuffle + one group shuffle; ``pre_rows`` is scanned once.

    ``pre_rows`` must be restricted to the batch's keys (semi join or
    bucket pruning), and the batch must not truncate: a truncate
    changes keys the batch never names. ``IncrementalAggregate``
    applies such a batch to the row state first and folds
    ``agg_delta`` over the full pre and post images. ``None`` means
    cold start. Payload columns the pre-images predate are
    widened with nulls, as the row-state merge does.
    """
    from cdc_spark.cdc.merge import _fold_ctes, _post_image, _q, widen

    keys = list(keys)
    payload = [c for c in payload if c not in keys]
    spark = changes.sparkSession
    fold = _fold_ctes("{changes}", keys, payload, lsn_col, op_col)
    key_sel = ", ".join(f"__u.{_q(k)}" for k in keys)

    if pre_rows is None:
        rows = spark.sql(
            f"WITH {fold} SELECT {key_sel}, 1 AS __w"
            f"{''.join(f', __u.{_q(c)}' for c in payload)} FROM __pk __u "
            "WHERE __u.__last_live IS NOT NULL",
            changes=changes,
        )
    else:

        def image(w: int, values: list[str]) -> str:
            fields = "".join(
                f", '{c}', {v}" for c, v in zip(payload, values, strict=True)
            )
            return f"named_struct('__w', {w}{fields})"

        pre_img = image(-1, [f"__bp.{_q(c)}" for c in payload])
        post_img = image(1, [_post_image(c, "__u", "__bp") for c in payload])
        on_keys = " AND ".join(f"__u.{_q(k)} = __bp.{_q(k)}" for k in keys)
        rows = spark.sql(
            f"WITH {fold}, __j AS (SELECT {key_sel}, explode(array("
            f"CASE WHEN __bp.__has_base THEN {pre_img} END, "
            f"CASE WHEN __u.__last_live IS NOT NULL THEN {post_img} END"
            ")) AS __s FROM __pk __u LEFT JOIN "
            "(SELECT *, true AS __has_base FROM {pre}) __bp "
            f"ON {on_keys}) SELECT {', '.join(_q(k) for k in keys)}, __s.* "
            "FROM __j WHERE __s IS NOT NULL",
            changes=changes,
            pre=widen(pre_rows, changes, payload),
        )

    contrib = _contributions(rows, group_cols, measures, F.col("__w"), scale)
    return _sum_deltas(contrib, group_cols, measures)


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
    *,
    keep_empty: bool = False,
) -> DataFrame:
    """base ⊕ delta: full-outer merge on group, add counters exactly.

    Groups whose row count reaches zero disappear (the aggregate of an
    empty group is no row, matching a full recompute) unless
    ``keep_empty`` is set — sinks keep them to emit delete tombstones
    for groups that vanished. ``base=None`` means cold start. The join
    is group-cardinality-sized — both sides are aggregates, so AQE
    broadcasts the (small) delta side against a large base at scale.
    """
    gc = list(group_cols)
    if base is None:
        out = [F.col(c) for c in gc]
        out.append(F.col("__dn").alias("__n"))
        for c in delta.columns:
            if c.startswith("__dhi_") or c.startswith("__dlo_"):
                out.append(F.col(c).alias("__" + c[3:]))
        merged = delta.select(*out)
        return merged if keep_empty else merged.where(F.col("__n") > 0)
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
    merged = joined.select(*out)
    return merged if keep_empty else merged.where(F.col("__n") > 0)


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

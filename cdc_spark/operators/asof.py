"""As-of joins — a temporal operator Spark lacks natively.

As-of join semantics: for each left row, attach the single right row
with the greatest ``right_ts <= left_ts`` within the same key group
(``allow_exact_matches`` mirrors ``pd.merge_asof``).

Implementation is the **union + last-value window** strategy, not a
pairwise join: both sides are unioned with a side tag, sorted within
each key by (ts, side), and the right-side payload is carried forward
with ``last(..., ignorenulls=True)``. Cost is one shuffle of
|L| + |R| rows and a linear window pass — no row multiplication, no
O(|L|·|R|) blow-up — so it scales to fact-fact as-of joins at 100 TB
where a range-condition join would be quadratic within key groups.
A per-key skew (one hot user) is bounded by that key's own row count,
same as any windowed operator; AQE skew handling does not apply to
windows. ``asof_join_bucketed`` is the hot-key-safe variant: it
time-buckets both sides so every window partition is (key, bucket) —
bounded by bucket width, not key popularity — and repairs
bucket-boundary misses with a second, tiny pass over per-bucket
carry-in aggregates (keys × buckets rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType as T_DateType
from pyspark.sql.types import NumericType as T_NumericType
from pyspark.sql.types import TimestampType as T_TimestampType

_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | None,
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    *,
    allow_exact_matches: bool = True,
    direction: str = "backward",
    tiebreak: str | None = None,
    tolerance: float | None = None,
) -> DataFrame:
    """Attach the latest preceding (``direction='backward'``), earliest
    following (``'forward'``), or closest-either-way (``'nearest'``)
    right row to every left row — the full ``pd.merge_asof`` surface.

    ``right_payload`` columns appear on the output (null when no right
    row matches). ``tiebreak`` (a right-side column) makes the choice
    deterministic when several right rows share one timestamp:
    max-tiebreak for backward, min for forward; ``'nearest'`` inherits
    whichever side wins (ties between the two sides go backward, the
    pandas convention). ``tolerance`` rejects matches farther than the
    given delta — in SECONDS for timestamp/date columns, in the
    column's own units otherwise; a too-far match nulls the payload
    exactly as no-match does.

    ``'nearest'`` stays one shuffle: the union carries each right row
    TWICE (once per role tag, so exact-match semantics hold in both
    directions under one ascending sort), and a single WindowExec
    evaluates the preceding-frame ``last`` and following-frame
    ``first`` over the same sort — |L| + 2|R| rows, linear.

    ``on=None`` (or ``[]``) is the *global* as-of — ``pd.merge_asof``
    with no ``by``: every left row matches against the whole right
    side. The window then partitions on nothing, i.e. ONE sorted
    partition holding |L| + |R| rows. That is inherent to the
    semantics (a total order over everything), not an implementation
    shortcut — use it for dimension-sized inputs (rate curves,
    calibration tables), never for fact-fact; the keyed form is the
    scale path.
    """
    keys = (
        []
        if on is None
        else [on] if isinstance(on, str) else list(on)
    )
    if tolerance is not None or direction == "nearest":
        _require_distance_metric(left.schema[left_ts].dataType, "left", left_ts)
        _require_distance_metric(
            right.schema[right_ts].dataType, "right", right_ts
        )
    if direction == "nearest":
        return _asof_nearest(
            left,
            right,
            keys,
            left_ts,
            right_ts,
            list(right_payload),
            allow_exact_matches=allow_exact_matches,
            tiebreak=tiebreak,
            tolerance=tolerance,
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )

    # Right rows must sort before left rows at equal timestamps iff
    # exact matches are allowed (right=0/left=1 ascending), after
    # otherwise (right=2). Forward direction flips the time order, so
    # "preceding in sort order" means "following in time".
    right_tag = 0 if allow_exact_matches else 2
    payload = list(right_payload)
    # the tiebreak column rides along even when it is not requested as
    # output payload — the window order needs it on every unioned row
    carried = payload + (
        [tiebreak] if tiebreak and tiebreak not in payload else []
    )

    left_cols = [c for c in left.columns]
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(right_tag).alias(_SIDE),
        *[F.col(c).alias(f"__r_{c}") for c in carried],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_cols if c not in keys],
    )
    l = left.select(  # noqa: E741
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias(_SIDE),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in carried],
        *[F.col(c) for c in left_cols if c not in keys],
    )

    ts_order = (
        F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    )
    order: list[Column] = [ts_order, F.col(_SIDE).asc()]
    if tiebreak is not None:
        # backward keeps the max-tiebreak right row at equal ts (last
        # in ascending order); forward keeps the min-tiebreak one
        tb = F.col(f"__r_{tiebreak}")
        order.append(
            tb.asc_nulls_first() if direction == "backward" else tb.desc_nulls_first()
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    unioned = r.unionByName(l)
    carried = unioned.select(
        *keys,
        "__ts",
        _SIDE,
        *[c for c in left_cols if c not in keys],
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in payload
        ],
        # the matched right row's own timestamp, for tolerance math
        F.last(
            F.when(F.col(_SIDE) != 1, F.col("__ts")), ignorenulls=True
        )
        .over(w)
        .alias("__mts"),
    )
    rows = carried.where(F.col(_SIDE) == 1)
    if tolerance is not None:
        dist = F.abs(_ts_num(F.col("__ts"), left.schema[left_ts].dataType)
                     - _ts_num(F.col("__mts"), right.schema[right_ts].dataType))
        ok = dist <= F.lit(float(tolerance))
        rows = rows.select(
            *keys,
            "__ts",
            *[c for c in left_cols if c not in keys],
            *[
                F.when(ok, F.col(f"__m_{c}")).alias(f"__m_{c}")
                for c in payload
            ],
        )
    out = rows.select(
        *keys,
        F.col("__ts").alias(left_ts),
        *[c for c in left_cols if c not in keys and c != left_ts],
        *[F.col(f"__m_{c}").alias(f"{c}_matched") for c in payload],
    )
    return out


def _ts_num(c: Column, dtype) -> Column:
    """Numeric view of an ordering column: epoch seconds for
    timestamps and dates, the value itself for numeric types.

    Dates cannot cast straight to double (disallowed since Spark 3),
    so they go through an intermediate timestamp cast — distance is
    then measured in seconds, matching the docstring contract.
    Callers that need a distance metric at all (``'nearest'`` or any
    ``tolerance``) must have passed :func:`_require_distance_metric`
    first, so this never sees a type whose cast would yield NULLs.
    """
    if isinstance(dtype, T_DateType):
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def _require_distance_metric(dtype, side: str, name: str) -> None:
    """Reject ordering columns with no numeric distance.

    backward/forward without tolerance only ever *sort* the ordering
    column, so any orderable type (e.g. ISO-8601 strings) works there.
    ``'nearest'`` and ``tolerance`` additionally *subtract* it; for a
    string column that cast yields NULL, which would silently turn
    'nearest' into 'backward' and tolerance into null-everything —
    fail loudly instead."""
    if isinstance(dtype, (T_TimestampType, T_DateType, T_NumericType)):
        return
    raise ValueError(
        f"as-of {side} ordering column {name!r} has type "
        f"{dtype.simpleString()}, which has no numeric distance; "
        "direction='nearest' and tolerance need a timestamp, date, or "
        "numeric ordering column (strings sort, but cannot measure)"
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    payload: list[str],
    *,
    allow_exact_matches: bool,
    tiebreak: str | None,
    tolerance: float | None,
) -> DataFrame:
    """One-shuffle nearest-match as-of (see :func:`asof_join`).

    Each right row enters the union twice with different role tags so
    equal-timestamp rows land on the correct side of the left row for
    BOTH directions under one ascending (ts, tag, tiebreak) sort:
    backward role sorts before left iff exact matches count, forward
    role after (and vice versa when they don't). A single WindowExec
    then computes ``last(backward_struct)`` over the preceding frame
    and ``first(forward_struct)`` over the following frame; the closer
    candidate (ties → backward) survives the tolerance check.
    """
    carried = payload + (
        [tiebreak] if tiebreak and tiebreak not in payload else []
    )
    b_tag, f_tag = (0, 2) if allow_exact_matches else (2, 0)
    left_cols = list(left.columns)

    def _struct(cols_src: str) -> Column:
        return F.struct(
            F.col("__ts").alias("__mts"),
            *[F.col(f"__r_{c}").alias(c) for c in carried],
        )

    r2 = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.explode(F.array(F.lit(b_tag), F.lit(f_tag))).alias(_SIDE),
        *[F.col(c).alias(f"__r_{c}") for c in carried],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in keys
        ],
    ).select(
        *keys,
        "__ts",
        _SIDE,
        *[c for c in left_cols if c not in keys],
        # backward candidates only on the backward-role copy, forward
        # only on the forward-role copy
        F.when(F.col(_SIDE) == b_tag, _struct("b")).alias("__b"),
        F.when(F.col(_SIDE) == f_tag, _struct("f")).alias("__f"),
    )
    l2 = left.select(  # noqa: E741
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left_cols if c not in keys],
        F.lit(None)
        .cast(r2.schema["__b"].dataType)
        .alias("__b"),
        F.lit(None)
        .cast(r2.schema["__f"].dataType)
        .alias("__f"),
    )
    order = [F.col("__ts").asc(), F.col(_SIDE).asc()]
    if tiebreak is not None:
        # ascending tiebreak serves both roles: last(backward) within
        # an equal-ts run = max tiebreak, first(forward) = min — the
        # same conventions as the single-direction paths
        order.append(
            F.coalesce(
                F.col("__b")[tiebreak], F.col("__f")[tiebreak]
            ).asc_nulls_first()
        )
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = r2.unionByName(l2)
    cand = unioned.select(
        *keys,
        "__ts",
        _SIDE,
        *[c for c in left_cols if c not in keys],
        F.last(F.col("__b"), ignorenulls=True).over(w_back).alias("__pb"),
        F.first(F.col("__f"), ignorenulls=True).over(w_fwd).alias("__pf"),
    ).where(F.col(_SIDE) == 1)

    lnum = _ts_num(F.col("__ts"), left.schema[left_ts].dataType)
    rtype = right.schema[right_ts].dataType
    db = lnum - _ts_num(F.col("__pb")["__mts"], rtype)
    df_ = _ts_num(F.col("__pf")["__mts"], rtype) - lnum
    if tolerance is not None:
        tol = F.lit(float(tolerance))
        pb = F.when(db <= tol, F.col("__pb"))
        pf = F.when(df_ <= tol, F.col("__pf"))
    else:
        pb, pf = F.col("__pb"), F.col("__pf")
    # recompute distances on the tolerance-filtered candidates; a null
    # candidate yields null distance, and the when-chain below treats
    # null as "no candidate on that side"
    db2 = lnum - _ts_num(pb["__mts"], rtype)
    df2 = _ts_num(pf["__mts"], rtype) - lnum
    win = (
        F.when(pb.isNull(), pf)
        .when(pf.isNull(), pb)
        .when(df2 < db2, pf)  # strict: ties go backward
        .otherwise(pb)
    )
    return cand.select(
        *keys,
        F.col("__ts").alias(left_ts),
        *[c for c in left_cols if c not in keys and c != left_ts],
        *[win[c].alias(f"{c}_matched") for c in payload],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    *,
    bucket_width: float,
    allow_exact_matches: bool = True,
    direction: str = "backward",
    tiebreak: str | None = None,
) -> DataFrame:
    """Hot-key-safe as-of join: two passes, no row replication.

    Pass 1 — time-bucket both sides (``floor(ts / bucket_width)``, ts
    in epoch seconds for timestamps) and run the union-window as-of
    with the bucket as an extra key: every window partition holds one
    key's rows within one bucket, so a 100×-hot key costs 100× more
    *partitions*, never one 100× partition.

    Pass 2 — left rows whose bucket holds no in-bucket match take the
    carry-in: the best right row from any earlier (later, for
    ``'forward'``) bucket, fill-forwarded over a per-(key, bucket)
    spine that is |distinct key×bucket| rows — skew-bounded by the
    bucket count per key. Equal timestamps land in the same bucket, so
    exact-match/tiebreak semantics are decided entirely in pass 1.

    Picks ``bucket_width`` ~ the median per-key activity period; the
    plain ``asof_join`` stays cheaper for un-skewed keys (one pass).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = list(right_payload)

    def bucket(ts: str, df: DataFrame) -> Column:
        # _ts_num handles DateType via an intermediate timestamp cast
        # (a raw date->double cast raises AnalysisException since
        # Spark 3); timestamps and numerics cast straight to double.
        c = _ts_num(F.col(ts), df.schema[ts].dataType)
        return F.floor(c / F.lit(float(bucket_width))).cast("long")

    lb = left.withColumn("__b", bucket(left_ts, left))
    rb = right.withColumn("__b", bucket(right_ts, right))

    in_bucket = asof_join(
        lb,
        rb,
        keys + ["__b"],
        left_ts,
        right_ts,
        payload,
        allow_exact_matches=allow_exact_matches,
        direction=direction,
        tiebreak=tiebreak,
    )

    # pass 2: per-(key, bucket) best right row, fill-forwarded across
    # the bucket spine of BOTH sides (left-only buckets need carry too)
    ord_struct = F.struct(
        F.col(right_ts),
        *([F.col(tiebreak)] if tiebreak else []),
    )
    pay_struct = F.struct(*[F.col(c).alias(c) for c in payload])
    agg = (
        F.max_by(pay_struct, ord_struct)
        if direction == "backward"
        else F.min_by(pay_struct, ord_struct)
    )
    rb_final = rb.groupBy(*keys, "__b").agg(agg.alias("__fin"))
    spine = (
        lb.select(*keys, "__b")
        .unionByName(rb.select(*keys, "__b"))
        .distinct()
        .join(rb_final, keys + ["__b"], "left")
    )
    off = (
        (Window.unboundedPreceding, -1)
        if direction == "backward"
        else (1, Window.unboundedFollowing)
    )
    w = Window.partitionBy(*keys).orderBy("__b").rowsBetween(*off)
    carry_fn = F.last if direction == "backward" else F.first
    carry = spine.select(
        *keys,
        "__b",
        carry_fn(F.col("__fin"), ignorenulls=True).over(w).alias("__carry"),
    )

    out = in_bucket.join(carry, keys + ["__b"], "left")
    return out.select(
        *[c for c in in_bucket.columns if c != "__b" and not c.endswith("_matched")],
        *[
            F.coalesce(F.col(f"{c}_matched"), F.col("__carry")[c]).alias(
                f"{c}_matched"
            )
            for c in payload
        ],
    )


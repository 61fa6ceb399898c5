"""Stateful apply: LSN-ordered latest-wins merge of typed change rows.

The heart of the engine (SURVEY.md §7 step 4). Semantics, per key:

- changes apply in ``lsn`` order, never arrival order — per-key
  ordering under shuffle is guaranteed by aggregation over lsn, the
  deck's log-compaction rule (slide 48);
- a delete tombstone kills the row unless a later insert/update
  revives it within the same batch;
- a null column in an update means *unchanged* (pgoutput 'u'
  unchanged-TOAST flag, main.go:203): the fold takes the last
  **non-null** value per column in lsn order, and falls back to the
  pre-merge base row when the live chain contains no insert;
- ``op='t'`` (truncate) clears the table as of its lsn — the message
  the reference parses but silently drops (main.go:393-398 vs
  115-130); we implement the parsed semantics;
- ``op='r'`` (snapshot read) behaves as insert, so a DBLog-style
  backfill interleaves with the tail (deck slide 30).

Scale shape: one hash shuffle of the batch by key (window + groupBy
share it), one shuffle of the base by key for the join — the same
shape Delta MERGE produces. No collect, no driver loop; AQE handles
skewed keys on the joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UPSERT_OPS = ("c", "u", "r")


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str = "lsn",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Log-compaction view: newest row per key (deck slide 48)."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), *[F.desc(t) for t in tiebreak]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    payload: Sequence[str],
    *,
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 view of a change log.

    Every upsert (``c``/``u``/``r``) becomes one version row with a
    half-open validity interval ``[valid_from, valid_to)`` in LSN
    space; the next change of *any* kind for the key (including a
    delete tombstone) closes the interval. ``is_current`` marks rows
    with no later change — a key whose last change is a delete has no
    current row, matching latest-wins merge semantics.

    This is the audit/replication face of CDC (deck slide 50): the
    same log that drives ``apply_changes`` replayed as full history
    instead of final state.

    Scale shape: one hash shuffle on the key plus a per-key sort for
    the ``lead`` window — per-key history is bounded by churn, so
    partitions stay small even when total state is large. Hot keys
    are bounded by the retention of the change log, not by state size.
    """
    keys = list(keys)
    payload = [c for c in payload if c not in keys]
    w = Window.partitionBy(*keys).orderBy(lsn_col)
    return (
        changes.withColumn("valid_to", F.lead(lsn_col).over(w))
        .where(F.col(op_col).isin(*UPSERT_OPS))
        .select(
            *keys,
            *payload,
            F.col(lsn_col).alias("valid_from"),
            "valid_to",
            F.when(F.col("valid_to").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_current"),
        )
    )


def _q(c: str) -> str:
    return f"`{c}`"


def _fold_ctes(
    src: str, keys: list[str], payload: list[str], lsn_col: str, op_col: str
) -> str:
    """The per-key LSN fold of the change relation ``src`` as the SQL
    text of two CTEs — the engine's one spelling of latest-wins.

    ``__pk0`` is ONE hash aggregation per key: the thresholds (newest
    delete, newest live upsert, newest full image) and each payload
    column's last non-null value are *unconditional* maxes, validated
    in ``__pk``: the globally-newest candidate either satisfies the
    threshold restriction — in which case it IS the restricted max
    (the restricted set shares the ordering) — or fails it, in which
    case every older candidate fails too. No sort; map-side partial
    aggregation collapses each partition to one row per key before
    the only shuffle.

    ``__pk`` output: key columns, ``__last_live`` (lsn of the newest
    surviving upsert, null ⇒ the key's final state is deleted/absent),
    ``__last_ins`` (lsn of the newest surviving full image), and each
    payload column holding the validated fold (null ⇒ unchanged-TOAST,
    to be resolved against a base image by the merge's post-image).
    Truncates are not handled here; callers filter them first.
    """
    L, O = _q(lsn_col), _q(op_col)
    key_list = ", ".join(_q(k) for k in keys)

    def after_del(x: str) -> str:  # strictly newer than the last delete
        return f"(__last_del IS NULL OR {x} > __last_del)"

    folds = "".join(
        f", max_by(named_struct('l', {L}, 'v', {_q(c)}), "
        f"CASE WHEN {O} IN ('c','u','r') AND {_q(c)} IS NOT NULL "
        f"THEN {L} END) AS {_q('__f_' + c)}"
        for c in payload
    )
    pay_sel = "".join(
        f", CASE WHEN {after_del(_q('__f_' + c) + '.l')} "
        f"AND (__ins_cand IS NULL OR NOT {after_del('__ins_cand')} "
        f"OR {_q('__f_' + c)}.l >= __ins_cand) "
        f"THEN {_q('__f_' + c)}.v END AS {_q(c)}"
        for c in payload
    )
    return (
        f"__pk0 AS (SELECT {key_list}, "
        f"max(CASE WHEN {O} = 'd' THEN {L} END) AS __last_del, "
        f"max(CASE WHEN {O} IN ('c','u','r') THEN {L} END) AS __live_cand, "
        f"max(CASE WHEN {O} IN ('c','r') THEN {L} END) AS __ins_cand"
        f"{folds} FROM {src} GROUP BY {key_list}), "
        f"__pk AS (SELECT {key_list}, "
        f"CASE WHEN {after_del('__live_cand')} THEN __live_cand END"
        " AS __last_live, "
        f"CASE WHEN {after_del('__ins_cand')} THEN __ins_cand END"
        f" AS __last_ins{pay_sel} FROM __pk0)"
    )


def widen(
    base: DataFrame, changes: DataFrame, payload: Sequence[str]
) -> DataFrame:
    """Mid-stream schema evolution (the reference's migration-002
    story, 002_user_field.up.sql): a batch may carry payload columns
    the stored rows predate — each becomes a typed null on ``base`` so
    a fold sees both sides full-width. Column DROP is deliberately not
    folded in (an analytics sink keeps the history; dropped columns
    just stop receiving values)."""
    ch_types = {f.name: f.dataType for f in changes.schema.fields}
    have = set(base.columns)
    missing = {
        c: F.lit(None).cast(ch_types[c])
        for c in payload
        if c in ch_types and c not in have
    }
    return base.withColumns(missing) if missing else base


def apply_changes(
    base: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    payload: Sequence[str],
    *,
    lsn_col: str = "lsn",
    op_col: str = "op",
    may_truncate: bool = True,
) -> DataFrame:
    """Apply one batch of typed changes onto ``base`` → new state.

    ``changes`` must carry: key columns, ``payload`` columns, ``op``
    (c/u/d/t/r) and a total-order ``lsn``. ``base`` is the prior
    materialized state (key + payload columns), or None for cold start;
    payload columns it predates are widened with nulls (:func:`widen`).

    ``may_truncate=False`` skips the truncate-wipe subplan (two 1-row
    broadcast aggregates) — pass it when the caller has already
    inspected the batch and found no ``op='t'`` (the incremental sink
    does, as a byproduct of its touched-bucket scan).

    TOAST fallback caveat (intended, but worth knowing): a column
    null in every live change of the chain falls back to the
    pre-merge ``base`` image. If the chain is ``delete`` then a
    *partial* ``update`` with no interleaved insert, that fallback
    revives the pre-delete value for columns the update did not set —
    the update is treated as carrying unchanged-TOAST columns, not as
    a fresh row. Sources that need strict delete-wipes-row semantics
    should emit the revival as ``c``/``r`` (full image), which is what
    PostgreSQL logical replication does after a delete.

    The whole merge composes as ONE SQL text handed to the parser in
    a single ``spark.sql`` call (round 13): building it through the
    Column API paid ~10 eagerly-analyzed DataFrame constructions of a
    deepening tree per call — ~0.3 s of driver time PER MICRO-BATCH
    on the apply hot path, the same per-batch plan-build tax the LSH
    operators shed. An aggregate maintained from the row state
    (``streaming/ivm_sink.py``) diffs the versions this merge
    committed, so the row state and every aggregate read one
    definition of the fold — pinned by the property suite's
    independent reference implementation
    (tests/test_merge_property.py).
    """
    keys = list(keys)
    payload = [c for c in payload if c not in keys]
    L, O = _q(lsn_col), _q(op_col)
    out_list = ", ".join(_q(c) for c in keys + payload)

    if may_truncate:
        # drop changes at-or-before the newest truncate, and the whole
        # base when any truncate is present. BROADCAST hints: without
        # them the 1-row CTE's size is unknown to the planner and the
        # cross join degrades to CartesianProduct (caught by the
        # plan-guardrail suite)
        ch_src = "__ch"
        tr_ctes = (
            f"__tr AS (SELECT max(CASE WHEN {O} = 't' THEN {L} END)"
            " AS __tmax FROM {changes}), "
            "__ch AS (SELECT /*+ BROADCAST(__tr) */ __c.* FROM"
            " {changes} __c CROSS JOIN __tr"
            f" WHERE {O} <> 't'"
            f" AND (__tr.__tmax IS NULL OR __c.{L} > __tr.__tmax)), "
        )
        base_src = (
            "(SELECT /*+ BROADCAST(__tr) */ __b.* FROM {base} __b"
            " CROSS JOIN __tr WHERE __tr.__tmax IS NULL)"
        )
    else:
        ch_src = "{changes}"
        tr_ctes = ""
        base_src = "{base}"

    fold = _fold_ctes(ch_src, keys, payload, lsn_col, op_col)
    ctes = f"WITH {tr_ctes}{fold}"
    # ``changes`` (and ``base``) bind through spark.sql's DataFrame
    # arguments, which is why ``persist()`` is the wrong tool for a
    # batch this merge reads: PySpark registers each argument as a
    # temp view and drops the view once the text is analyzed, and
    # dropping a view uncaches its plan. The optimized plan then keeps
    # the frame's own leaf (a ``LogicalRDD``), never an
    # ``InMemoryRelation`` — the batch re-runs its source and the
    # persist only adds its caching cost (measured slower). A caller
    # that reads a batch more than once materializes it with
    # ``localCheckpoint`` instead, whose stored blocks ARE the plan's
    # leaf on any path (``streaming.state._local_checkpoints``).

    if base is None:
        # cold start: no prior rows to carry over or coalesce against
        sql = (
            f"{ctes} SELECT {out_list} FROM __pk "
            "WHERE __last_live IS NOT NULL"
        )
        return changes.sparkSession.sql(sql, changes=changes)

    base = widen(base, changes, payload)
    # post-image: a live insert resets the row (no fallback);
    # otherwise a null fold means unchanged-TOAST and falls back to
    # the base image
    upsert_sel = ", ".join(
        [f"__u.{_q(k)}" for k in keys]
        + [
            f"CASE WHEN __u.__last_ins IS NOT NULL THEN __u.{_q(c)} "
            f"ELSE coalesce(__u.{_q(c)}, __bp.{_q(c)}) END AS {_q(c)}"
            for c in payload
        ]
    )
    on_keys = " AND ".join(f"__b.{_q(k)} = __pk.{_q(k)}" for k in keys)
    on_keys_u = " AND ".join(f"__u.{_q(k)} = __bp.{_q(k)}" for k in keys)
    sql = (
        f"{ctes} "
        # untouched base rows: keys the batch never mentions (keys
        # whose final state is deleted are simply excluded here and
        # never re-added)
        f"SELECT {out_list} FROM (SELECT __b.* FROM {base_src} __b "
        f"LEFT ANTI JOIN __pk ON {on_keys}) "
        "UNION ALL "
        f"SELECT {upsert_sel} FROM "
        "(SELECT * FROM __pk WHERE __last_live IS NOT NULL) __u "
        f"LEFT JOIN {base_src} __bp ON {on_keys_u}"
    )
    return changes.sparkSession.sql(sql, changes=changes, base=base)

"""Property-based check of the CDC merge core (hypothesis).

``apply_changes`` is the engine's most load-bearing operator: every
sink, the IVM aggregate, and the transactional barrier build on its
per-key LSN-ordered fold. These properties replay RANDOM op logs
(c/u/d/r/t, null columns = unchanged-TOAST, arbitrary key collisions)
against an independent, dead-simple Python reference implementation of
the documented semantics — single batch and sequential two-batch —
so any drift between the declarative one-pass aggregate formulation
(``merge._fold_ctes``) and the intended semantics surfaces on inputs no
hand-written case covers.

Kept deliberately small (max_examples) because each example is a real
Spark round-trip; derandomized so CI is stable.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_spark.cdc.merge import apply_changes

PAYLOAD = ["v1", "v2"]
SCHEMA = "op string, lsn long, k long, v1 string, v2 long"

_ops = st.sampled_from(["c", "u", "d", "r", "t"])
_key = st.integers(min_value=1, max_value=4)
_v1 = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
_v2 = st.one_of(st.none(), st.integers(min_value=0, max_value=9))


@st.composite
def change_log(draw, min_size=0, max_size=12):
    n = draw(st.integers(min_value=min_size, max_value=max_size))
    rows = []
    for i in range(n):
        op = draw(_ops)
        if op == "t":
            rows.append((op, i + 1, 0, None, None))
        else:
            rows.append((op, i + 1, draw(_key), draw(_v1), draw(_v2)))
    return rows


def _ref_apply(base: dict, changes: list) -> dict:
    """Reference semantics, implemented the obvious O(n log n) way."""
    tmax = max((lsn for op, lsn, *_ in changes if op == "t"), default=None)
    if tmax is not None:
        base = {}
        changes = [c for c in changes if c[0] != "t" and c[1] > tmax]
    else:
        changes = [c for c in changes if c[0] != "t"]

    bykey: dict = {}
    for op, lsn, k, v1, v2 in changes:
        bykey.setdefault(k, []).append((op, lsn, {"v1": v1, "v2": v2}))

    out = {k: dict(v) for k, v in base.items() if k not in bykey}
    for k, chs in bykey.items():
        last_del = max((l for op, l, _ in chs if op == "d"), default=None)

        def alive(lsn):
            return lsn is not None and (last_del is None or lsn > last_del)

        live = max((l for op, l, _ in chs if op in ("c", "u", "r")), default=None)
        ins = max((l for op, l, _ in chs if op in ("c", "r")), default=None)
        if not alive(live):
            continue  # final state deleted/absent
        row = {}
        for col in PAYLOAD:
            f = max(
                (
                    (l, vals[col])
                    for op, l, vals in chs
                    if op in ("c", "u", "r") and vals[col] is not None
                ),
                default=None,
            )
            v = None
            if f is not None and alive(f[0]) and (not alive(ins) or f[0] >= ins):
                v = f[1]
            if alive(ins):
                row[col] = v  # a full image resets the row, no fallback
            else:
                prior = base.get(k)
                row[col] = v if v is not None else (prior or {}).get(col)
        out[k] = row
    return out


def _spark_apply(spark, base: dict, changes: list) -> dict:
    base_df = None
    if base is not None:
        base_rows = [(k, r["v1"], r["v2"]) for k, r in sorted(base.items())]
        base_df = spark.createDataFrame(
            base_rows, "k long, v1 string, v2 long"
        )
    ch_df = spark.createDataFrame(changes, SCHEMA) if changes else (
        spark.createDataFrame([], SCHEMA)
    )
    got = apply_changes(base_df, ch_df, ["k"], PAYLOAD)
    return {r.k: {"v1": r.v1, "v2": r.v2} for r in got.collect()}


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(log=change_log())
def test_single_batch_matches_reference(spark, log):
    assert _spark_apply(spark, None, log) == _ref_apply({}, log)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(log1=change_log(max_size=8), log2=change_log(max_size=8))
def test_sequential_batches_match_reference(spark, log1, log2):
    # relabel batch-2 lsns to continue after batch 1 (a total order
    # across the log, as WAL positions are)
    off = len(log1)
    log2 = [(op, lsn + off, k, v1, v2) for op, lsn, k, v1, v2 in log2]
    ref = _ref_apply(_ref_apply({}, log1), log2)
    got = _spark_apply(spark, _spark_apply(spark, None, log1), log2)
    assert got == ref


@given(log1=change_log(min_size=1, max_size=8), log2=change_log(max_size=8))
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_version_diff_matches_snapshot_diff(spark, tmp_path_factory, log1, log2):
    """version_diff(v1, v2) over random logs ≡ the dict diff of the
    reference-replayed snapshots: same keys, same ops, same images —
    the manifest-diff pruning must never hide a change or invent one."""
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    # truncate in batch 2 hits the all-buckets path; keep it in scope
    t = BucketedStateTable(
        spark, tempfile.mkdtemp(prefix="vdiff_prop_"), ["k"], n_buckets=4
    )
    df1 = spark.createDataFrame(
        [(op, lsn, k, v1, v2) for op, lsn, k, v1, v2 in log1], SCHEMA
    )
    base_lsn = len(log1)
    df2 = spark.createDataFrame(
        [(op, lsn + base_lsn, k, v1, v2) for op, lsn, k, v1, v2 in log2],
        SCHEMA,
    )
    v1n = t.apply(df1, PAYLOAD)
    v2n = t.apply(df2, PAYLOAD)
    if v1n is None or v2n is None or v1n == v2n:
        return  # one of the batches was empty: no diff to check

    s1 = _ref_apply({}, list(log1))
    s2 = _ref_apply(
        s1, [(op, lsn + base_lsn, k, v1, v2) for op, lsn, k, v1, v2 in log2]
    )
    want = {}
    for k in set(s1) | set(s2):
        if k not in s1:
            want[k] = ("c", s2[k]["v1"], s2[k]["v2"])
        elif k not in s2:
            want[k] = ("d", None, None)
        elif s1[k] != s2[k]:
            want[k] = ("u", s2[k]["v1"], s2[k]["v2"])

    got = {
        r.k: (r.op, r.v1, r.v2)
        for r in t.version_diff(v1n, v2n).collect()
    }
    assert got == want


def _drop_truncates(log: list) -> list:
    return [row for row in log if row[0] != "t"]


def _ref_ivm(state: dict) -> dict:
    return {
        k: (
            1,
            ord(r["v1"]) if r["v1"] is not None else 0,
            r["v2"] + 1 if r["v2"] is not None else 0,
        )
        for k, r in state.items()
    }


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    log1=change_log(max_size=8).map(_drop_truncates),
    log2=change_log(max_size=8),
)
def test_ivm_delta_matches_reference(spark, log1, log2):
    """The IVM delta of two state images must agree with the merge
    fold: base_agg(pre) ⊕ agg_delta(pre, apply_changes(pre, batch)) ≡
    the aggregate of the reference-applied state, over random logs
    with TOAST nulls, delete-then-reinsert chains, key collisions and
    truncates. ``pre`` is the whole prior state, as the streaming sink
    diffs whole touched buckets: unchanged keys must cancel. The
    aggregate groups by key, so every key's post-image is checked."""
    from cdc_spark.cdc.ivm import agg_delta, base_agg, finish_agg, merge_agg

    off = len(log1)
    log2 = [(op, lsn + off, k, v1, v2) for op, lsn, k, v1, v2 in log2]
    pre = _ref_apply({}, log1)
    want = _ref_ivm(_ref_apply(pre, log2))

    pre_df = spark.createDataFrame(
        [(k, r["v1"], r["v2"]) for k, r in sorted(pre.items())],
        "k long, v1 string, v2 long",
    )
    post_df = apply_changes(
        pre_df, spark.createDataFrame(log2, SCHEMA), ["k"], PAYLOAD
    )
    # null-free measures over both payload columns, so a null image
    # and a zero image stay distinguishable: ascii(v1) and v2 + 1
    measures = {
        "m1": F.coalesce(F.ascii("v1"), F.lit(0)),
        "m2": F.coalesce(F.col("v2") + 1, F.lit(0)),
    }
    delta = agg_delta(pre_df, post_df, ["k"], measures)
    merged = merge_agg(base_agg(pre_df, ["k"], measures), delta, ["k"])
    got = {
        r.k: (r.n_rows, round(r.m1), round(r.m2))
        for r in finish_agg(merged, ["k"], list(measures)).collect()
    }
    assert got == want

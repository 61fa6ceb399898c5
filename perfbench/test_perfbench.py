"""Tests of the benchmark's own helpers. No Spark session needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.gen import Change
from perfbench.reference import (
    aggregate,
    fold,
    mismatched_keys,
    percentile,
    self_time,
    typed_rows,
    union_length,
)
from perfbench.tracer import Job, Span, StageStats, layer_report
from perfbench.workloads import failed_ops


def test_backfill_slices_deterministic_per_seed():
    a = gen.backfill_slices(7, [500, 300])
    b = gen.backfill_slices(7, [500, 300])
    c = gen.backfill_slices(8, [500, 300])
    assert [s.rows for s in a] == [s.rows for s in b]
    assert [s.changes for s in a] == [s.changes for s in b]
    assert [s.rows for s in a] != [s.rows for s in c]


def test_backfill_slice_shape():
    slices = gen.backfill_slices(3, [2000, 1000])
    orders = [o for s in slices for o, _ in s.rows]
    assert orders == list(range(len(orders)))  # one slot-global order
    for i, s in enumerate(slices):
        assert s.rows[0][1][:1] == b"R"  # every slice opens with its Relation
        assert len(s.changes) == [2000, 1000][i]
        frames = dict(s.rows)
        assert all(frames[c.lsn][:1] in b"IUD" for c in s.changes)
    hot = sum(c.key == gen.HOT_KEY for s in slices for c in s.changes)
    assert 0.2 < hot / 3000 < 0.4
    # the migration: only images after it carry the added column
    assert all("phone_number" not in c.image for c in slices[0].changes if c.image)
    assert all("phone_number" in c.image for c in slices[1].changes if c.image)
    # a later migration: the slices before it keep the first relation
    late = gen.backfill_slices(3, [100, 100, 100], migrate_at=2)
    assert all("phone_number" not in c.image for c in late[1].changes if c.image)
    assert all("phone_number" in c.image for c in late[2].changes if c.image)


def test_tail_log_deterministic_and_scheduled():
    live = sorted(fold(c for s in gen.backfill_slices(5, [400]) for c in s.changes))
    kw = dict(first_lsn=10_000, first_new_key=10_000, rate=200.0, seconds=3.0)
    a = gen.tail_log(5, live, **kw)
    assert a == gen.tail_log(5, live, **kw)
    assert a != gen.tail_log(6, live, **kw)
    dues = [t.due_s for t in a]
    assert dues == sorted(dues) and 0 < dues[0] and dues[-1] < 3.0
    assert [t.change.lsn for t in a] == list(range(10_000, 10_000 + len(a)))
    assert 300 < len(a) < 900  # ~200 changes/s for 3 s
    assert {t.change.op for t in a} == {"c", "u", "d"}


def test_analytics_tables_deterministic(tmp_path):
    rows = gen.write_analytics_tables(3, str(tmp_path / "a"))
    gen.write_analytics_tables(3, str(tmp_path / "b"))
    # the shape of the sf0.01 test data: lineitem ~4 lines per order
    assert {t: rows[t] for t in gen.ANALYTICS_ROWS} == gen.ANALYTICS_ROWS
    assert 55_000 < rows["lineitem"] < 65_000
    gen.write_analytics_tables(4, str(tmp_path / "c"))
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


def test_fold_delete_then_reinsert_chain():
    """Worked by hand: k1 is inserted, updated, deleted, re-inserted;
    k2 is inserted before the migration and never touched again; k3 is
    inserted and deleted. Input order must not matter, only lsn."""
    img = lambda seg, bal, phone=None: {  # noqa: E731
        "seg": seg, "bal": bal, **({"phone_number": phone} if phone else {})
    }
    changes = [
        Change(1, "c", 1, img("a", "1.00")),
        Change(2, "c", 2, img("b", "2.50")),
        Change(3, "u", 1, img("a", "3.00")),
        Change(4, "c", 3, img("c", "9.99")),
        Change(5, "d", 1, None),
        Change(6, "d", 3, None),
        Change(7, "c", 1, img("z", "4.25", "555-0001")),
    ]
    want = {1: ("z", 4.25, "555-0001"), 2: ("b", 2.5, None)}
    payload = ["seg", "bal", "phone_number"]
    assert typed_rows(fold(changes), payload) == want
    assert typed_rows(fold(reversed(changes)), payload) == want
    assert aggregate(fold(changes)) == {"z": (1, 4.25), "b": (1, 2.5)}


def test_mismatch_blames_the_last_writer():
    want = {1: ("a", 1.0, None), 2: ("b", 2.0, None), 3: ("c", 3.0, None)}
    got = {1: ("a", 1.0, None), 2: ("b", 9.0, None), 4: ("d", 4.0, None)}
    bad = mismatched_keys(want, got)
    assert bad == {2, 3, 4}
    # a skipped batch: every key it wrote last is wrong, one op blamed
    assert failed_ops(bad, {1: 0, 2: 1, 3: 1}) == {1, -1}


def test_percentile_carries_sample_count():
    xs = [float(x) for x in range(1, 11)]
    assert percentile(xs, 50) == {"value": 5.5, "n": 10}
    assert percentile(list(reversed(xs)), 90)["value"] == pytest.approx(9.1)
    assert percentile([2.0], 90) == {"value": 2.0, "n": 1}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_covered_children_once():
    assert union_length([(1, 3), (2, 5), (8, 12)]) == 8
    # children clipped to the span: [1,5] and [8,10] are covered
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(11, 12)]) == 10


def test_layer_report_self_time_and_job_accounting():
    spans = [
        Span(0, "query", 100.0, 110.0, None, 0, 1),
        Span(1, "queries.build", 100.0, 104.0, 0, 0, 1),
        Span(2, "catalog.load_table", 101.0, 102.0, 1, 0, 1),
        Span(3, "catalog.load_table", 102.0, 103.5, 1, 0, 1),
        Span(4, "queries.action", 104.0, 110.0, 0, 0, 1),
    ]
    jobs = [
        Job(0, "2", 101.1, 101.5, [0], 1, 1),
        Job(1, "3", 102.2, 102.6, [1], 1, 1),
        Job(2, "4", 104.5, 106.0, [2, 3], 2, 8),
        # launched by an engine worker thread: no group, still the op's
        Job(3, None, 105.0, 107.0, [4], 1, 4),
        Job(4, None, 200.0, 201.0, [5], 1, 1),  # outside every op
    ]
    stages = {i: StageStats(1.0, 10, 20, [0.1, 0.1, 0.4]) for i in range(6)}
    r = layer_report(
        spans, jobs, stages, {"query"},
        ("catalog.load_table", "queries.build", "queries.action"),
    )
    assert r["catalog.load_table_s"]["value"] == pytest.approx(2.5)
    assert r["catalog.load_table_calls"]["value"] == 2
    assert r["catalog.load_table_jobs"]["value"] == 2
    assert r["queries.build_s"]["value"] == pytest.approx(1.5)
    assert r["queries.action_jobs"]["value"] == 1
    assert r["queries.action_tasks"]["value"] == 8
    assert r["spark.jobs"] == {"value": 4, "n": 1}
    assert r["spark.tasks"]["value"] == 14
    # job intervals [101.1,101.5] [102.2,102.6] [104.5,107] -> 3.3 s
    assert r["spark.job_wall_s"]["value"] == pytest.approx(3.3)
    assert r["driver_only_s"]["value"] == pytest.approx(6.7)
    assert r["spark.executor_run_s"]["value"] == pytest.approx(5.0)
    assert r["spark.task_skew"]["value"] == pytest.approx(4.0)

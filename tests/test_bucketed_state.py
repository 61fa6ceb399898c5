"""BucketedStateTable: incremental apply correctness + the O(touched)
guarantee — untouched buckets are inherited by reference, their files
never rewritten.

The reference applies changes continuously as they arrive
(examples/pgoutput/main.go:115-130); these tests pin the distributed
analog: apply cost tracks the batch's key spread, not the state size.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cdc_spark.cdc.merge import apply_changes
from cdc_spark.streaming.state import BucketedStateTable, generations

SCHEMA = "id long, name string, qty long, op string, lsn long"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _bucket_files(path: str, man: dict) -> dict[str, list[str]]:
    """bucket id → sorted list of (relpath, sha256) of the files it
    lists."""
    return {
        b: sorted(
            (rel, hashlib.sha256((Path(path) / rel).read_bytes()).hexdigest())
            for rel in files
        )
        for b, files in man["buckets"].items()
    }


def _narrow(spark, table, keys) -> int:
    """Seed ``keys`` and compact, so each file covers about one bucket
    (a seed apply writes files spanning every bucket it touches)."""
    from cdc_spark.operators.maintenance import compact_buckets

    table.apply(
        _changes(spark, [(i, f"n{i}", i, "c", i) for i in keys]),
        ["name", "qty"],
    )
    return compact_buckets(table, target_file_bytes=1 << 30, min_files=1)


def _manifest(t: BucketedStateTable, v: int) -> dict:
    with open(os.path.join(t.path, f"v{v}", "MANIFEST.json")) as fh:
        return json.load(fh)


@pytest.fixture()
def table(spark, tmp_path):
    return BucketedStateTable(
        spark, str(tmp_path / "state"), ["id"], n_buckets=8
    )


def test_cold_start_and_read(spark, table):
    assert table.read() is None
    v = table.apply(
        _changes(spark, [(1, "a", 10, "c", 1), (2, "b", 20, "c", 2)]),
        ["name", "qty"],
    )
    assert v == 1
    got = {r.id: (r.name, r.qty) for r in table.read().collect()}
    assert got == {1: ("a", 10), 2: ("b", 20)}


def test_untouched_buckets_inherited_byte_identical(spark, table):
    # seed 64 keys so several buckets are populated
    seed = [(i, f"n{i}", i * 10, "c", i) for i in range(1, 65)]
    table.apply(_changes(spark, seed), ["name", "qty"])
    man1 = _manifest(table, 1)
    files1 = _bucket_files(table.path, man1)
    assert len(man1["buckets"]) > 1  # multiple buckets populated

    # single-key update: exactly one bucket is dirty
    v2 = table.apply(
        _changes(spark, [(7, "updated", 700, "u", 100)]), ["name", "qty"]
    )
    man2 = _manifest(table, v2)
    assert len(man2["touched"]) == 1
    (touched,) = man2["touched"]

    files2 = _bucket_files(table.path, man2)
    for b in man1["buckets"]:
        if int(b) == touched:
            assert all(rel.startswith("v2/") for rel in man2["buckets"][b])
        else:
            # inherited: same file list → same files, same bytes
            assert man2["buckets"][b] == man1["buckets"][b]
            assert files2[b] == files1[b]

    got = {r.id: (r.name, r.qty) for r in table.read().collect()}
    assert got[7] == ("updated", 700)
    assert len(got) == 64


def test_matches_full_apply_semantics(spark, table):
    """Bucketed incremental apply ≡ apply_changes over the whole log."""
    b1 = [(1, "a", 1, "c", 1), (2, "b", 2, "c", 2), (3, "c", 3, "c", 3)]
    b2 = [(2, None, 20, "u", 4), (3, None, None, "d", 5), (4, "d", 4, "c", 6)]
    b3 = [(1, "a2", None, "u", 7), (5, "e", 5, "c", 8)]
    table.apply(_changes(spark, b1), ["name", "qty"])
    table.apply(_changes(spark, b2), ["name", "qty"])
    table.apply(_changes(spark, b3), ["name", "qty"])

    oracle = apply_changes(
        None, _changes(spark, b1 + b2 + b3), ["id"], ["name", "qty"]
    )
    got = sorted(
        (r.id, r.name, r.qty) for r in table.read().collect()
    )
    want = sorted((r.id, r.name, r.qty) for r in oracle.collect())
    assert got == want


def test_truncate_dirties_every_bucket(spark, table):
    seed = [(i, f"n{i}", i, "c", i) for i in range(1, 33)]
    table.apply(_changes(spark, seed), ["name", "qty"])
    v2 = table.apply(
        _changes(
            spark,
            [(0, None, None, "t", 100), (1, "after", 1, "c", 101)],
        ),
        ["name", "qty"],
    )
    man2 = _manifest(table, v2)
    assert man2["touched"] == list(range(8))  # all buckets wiped
    got = {r.id: r.name for r in table.read().collect()}
    assert got == {1: "after"}
    # no inherited (pre-truncate) files survive in the manifest
    assert all(rel.startswith("v2/") for rel in man2["files"])


def test_time_travel_versions(spark, table):
    table.apply(_changes(spark, [(1, "v1", 1, "c", 1)]), ["name", "qty"])
    table.apply(_changes(spark, [(1, "v2", 2, "u", 2)]), ["name", "qty"])
    assert table.read(version=1).collect()[0].name == "v1"
    assert table.read(version=2).collect()[0].name == "v2"
    assert table.current_version() == 2


def test_empty_batch_is_noop(spark, table):
    table.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    v = table.apply(_changes(spark, []), ["name", "qty"])
    assert v == 1
    assert table.current_version() == 1


def test_aborted_version_dir_ignored(spark, table):
    table.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    # a version dir without a manifest never committed
    os.makedirs(os.path.join(table.path, "v9"), exist_ok=True)
    assert table.current_version() == 1
    assert table.apply(_changes(spark, [(2, "b", 2, "c", 2)]), ["name", "qty"]) == 2
    assert table.current_version() == 2
    got = sorted((r.id, r.name, r.qty) for r in table.read().collect())
    assert got == [(1, "a", 1), (2, "b", 2)]
    assert os.listdir(table._version_dir(9)) == []


def test_vacuum_removes_manifestless_version_dir(spark, table):
    """A non-empty version dir with no manifest never committed, and
    no commit's rename can replace it: vacuum removes it, so the next
    apply commits that version. An empty one stays: a rename may be
    landing on it."""
    table.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    os.makedirs(table._version_dir(2))
    Path(table._version_dir(2), "part-0.parquet").write_bytes(b"debris")
    os.makedirs(table._version_dir(9))
    res = table.vacuum()
    assert 2 in res["removed"] and 9 in res["kept"]
    assert not os.path.exists(table._version_dir(2))
    assert os.listdir(table._version_dir(9)) == []
    assert table.apply(_changes(spark, [(2, "b", 2, "c", 2)]), ["name", "qty"]) == 2
    got = sorted((r.id, r.name, r.qty) for r in table.read().collect())
    assert got == [(1, "a", 1), (2, "b", 2)]


def test_delete_then_reinsert_across_batches(spark, table):
    table.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    table.apply(_changes(spark, [(1, None, None, "d", 2)]), ["name", "qty"])
    assert table.read().count() == 0
    table.apply(_changes(spark, [(1, "back", 9, "c", 3)]), ["name", "qty"])
    got = table.read().collect()
    assert [(r.id, r.name, r.qty) for r in got] == [(1, "back", 9)]


def test_bucket_pruning_reads_only_touched(spark, table):
    """The base scan for an apply only opens files that a touched
    bucket lists."""
    v = _narrow(spark, table, range(1, 65))
    man = _manifest(table, v)
    # hide every file key 7's bucket does not list: if apply read
    # them, it would fail — proving untouched buckets are never opened
    b7 = (
        table.spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(7).cast("long")), F.lit(8)).cast("int")
        )
        .collect()[0][0]
    )
    hidden = [
        Path(table.path) / rel
        for rel in set(man["files"]) - set(man["buckets"][str(b7)])
    ]
    assert hidden
    for p in hidden:
        p.rename(p.with_suffix(".hidden"))
    table.apply(
        _changes(spark, [(7, "u7", 70, "u", 99)]), ["name", "qty"]
    )
    # restore for sanity read
    for p in hidden:
        p.with_suffix(".hidden").rename(p)
    got = {r.id: r.name for r in table.read().collect()}
    assert got[7] == "u7" and len(got) == 64


def test_compact_buckets_preserves_data_and_folds_files(spark, table):
    from cdc_spark.operators.maintenance import compact_buckets

    seed = [(i, f"n{i}", i, "c", i) for i in range(1, 129)]
    # two applies so several buckets hold two file generations' rows;
    # fragment the writes so each bucket lists multiple files
    table.apply(_changes(spark, seed).repartition(8), ["name", "qty"])
    table.apply(
        _changes(spark, [(i, f"u{i}", i * 2, "u", 1000 + i) for i in range(1, 129)]
        ).repartition(8),
        ["name", "qty"],
    )
    before = sorted((r.id, r.name, r.qty) for r in table.read().collect())

    v = compact_buckets(table, target_file_bytes=1 << 30, min_files=1)
    assert v == 3
    man = _manifest(table, v)
    assert man.get("compaction") is True
    after = sorted((r.id, r.name, r.qty) for r in table.read().collect())
    assert after == before
    # every compacted bucket lists O(1) files now, all of them new
    for b, files in man["buckets"].items():
        assert len(files) <= 2  # range boundary may add one
        assert all(rel.startswith(f"v{v}/") for rel in files)
    # time travel to the pre-compaction version still works
    assert sorted(
        (r.id, r.name, r.qty) for r in table.read(version=2).collect()
    ) == before


def test_compact_buckets_noop_below_threshold(spark, table):
    from cdc_spark.operators.maintenance import compact_buckets

    table.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    assert compact_buckets(table, min_files=99) == 1


def test_compaction_replaces_files_shared_with_uncompacted_buckets(
    spark, tmp_path
):
    """A bucket that needs no compaction but shares a file with one
    that does is compacted with it: every file compaction reads leaves
    the manifest, so no stale rows stay behind and vacuum can drop the
    old versions."""
    from cdc_spark.operators.maintenance import compact_buckets

    t = BucketedStateTable(spark, str(tmp_path / "sh"), ["id"], n_buckets=2)
    t.apply(
        _changes(spark, [(i, "s", i, "c", i) for i in range(1, 21)]),
        ["name", "qty"],
    )
    # an insert-only append to bucket 0 alone: bucket 0 then lists two
    # versions, bucket 1 still one
    ids = spark.range(100, 140).select(
        "id", t._bucket_expr().alias("b")
    ).collect()
    fresh = [r.id for r in ids if r.b == 0][:2]
    t.apply(
        _changes(spark, [(i, "n", i, "c", i) for i in fresh]),
        ["name", "qty"],
        insert_only=True,
    )
    man = _manifest(t, t.current_version())
    assert generations(man["buckets"]["0"]) == 2
    assert generations(man["buckets"]["1"]) == 1
    assert set(man["buckets"]["0"]) & set(man["buckets"]["1"])
    before = sorted(t.read().collect())

    v = compact_buckets(t, min_files=99)  # only bucket 0 trips a rule
    man = _manifest(t, v)
    assert sorted(man["touched"]) == [0, 1]
    assert all(rel.startswith(f"v{v}/") for rel in man["files"])
    assert sorted(t.read().collect()) == before
    assert t.row_count() == len(before)
    assert t.vacuum(keep_last=1)["kept"] == [v]


@pytest.mark.parametrize("commit", ["compaction", "metadata_only"])
def test_commit_keeps_applied_lsn_and_batch_id(spark, table, commit):
    """The manifest is the replication ack record: a compaction or a
    metadata-only commit must carry the applied-LSN watermark and the
    batch_id over, or the replay of the last batch would apply it a
    second time."""
    from cdc_spark.operators.maintenance import compact_buckets

    table.apply(
        _changes(spark, [(i, "a", i, "c", i) for i in range(1, 9)]),
        ["name", "qty"],
        batch_id=0,
    )
    b1 = _changes(spark, [(i, "b", i, "u", 20 + i) for i in range(1, 9)])
    table.apply(b1, ["name", "qty"], batch_id=1)
    before = table.replication_progress()
    assert (before["applied_lsn"], before["batch_id"]) == (28, 1)
    rows = sorted(tuple(r) for r in table.read().collect())

    if commit == "compaction":
        v = compact_buckets(table, min_files=1)
    else:
        v = table.overwrite_buckets(None, (), extra_meta={"row_version": 7})
        # no data written: every bucket and the schema are inherited
        man, prev = _manifest(table, v), _manifest(table, 2)
        assert os.listdir(table._version_dir(v)) == ["MANIFEST.json"]
        assert man["buckets"] == prev["buckets"]
        assert man["schema"] == prev["schema"]
        assert man["touched"] == [] and man["row_version"] == 7
    assert v == 3
    after = table.replication_progress()
    assert after["version"] == v
    assert (after["applied_lsn"], after["batch_id"]) == (28, 1)
    # replaying batch 1 is still a no-op: no new version
    assert table.apply(b1, ["name", "qty"], batch_id=1) == v
    assert table.current_version() == v
    assert sorted(tuple(r) for r in table.read().collect()) == rows


def _tree(path: str) -> dict[str, str]:
    """relpath → sha256 of every file under ``path``."""
    return {
        str(f.relative_to(path)): hashlib.sha256(f.read_bytes()).hexdigest()
        for f in Path(path).rglob("*")
        if f.is_file()
    }


def _staging_dirs(path: str) -> list[str]:
    return [n for n in os.listdir(path) if n.startswith("v") and "." in n]


@pytest.mark.parametrize("race", ["before_commit", "before_rename"])
def test_stale_writer_loses_and_keeps_winner_version(spark, tmp_path, monkeypatch, race):
    """Two handles on one path both plan against v1; A commits v2
    while B is mid-apply: before B's commit starts, or between B's
    staleness check and its rename. B's commit must raise, and A's v2
    must stay committed and byte-identical."""
    from cdc_spark.streaming.state import ConcurrentWriteError

    path = str(tmp_path / "two")
    a = BucketedStateTable(spark, path, ["id"], n_buckets=4)
    b = BucketedStateTable(spark, path, ["id"], n_buckets=4)
    a.apply(_changes(spark, [(1, "a", 1, "c", 1)]), ["name", "qty"])
    fired, winner = [], {}

    def a_commits_first(fn):
        def wrapped(*args, **kw):
            if not fired:  # once: B has read v1 and planned its merge
                fired.append(race)
                assert a.apply(_changes(spark, [(2, "b", 2, "c", 2)]), ["name", "qty"]) == 2
                winner.update(_tree(a._version_dir(2)))
            return fn(*args, **kw)

        return wrapped

    if race == "before_commit":
        b._commit_new_version = a_commits_first(b._commit_new_version)
    else:
        monkeypatch.setattr(os, "rename", a_commits_first(os.rename))
    with pytest.raises(ConcurrentWriteError):
        b.apply(_changes(spark, [(3, "c", 3, "c", 3)]), ["name", "qty"])
    monkeypatch.undo()
    assert {r.id for r in a.read().collect()} == {1, 2}
    assert _tree(a._version_dir(2)) == winner
    assert a.current_version() == 2
    assert _staging_dirs(path) == []


def test_threaded_writers_keep_every_committed_version(spark, tmp_path):
    """Four threads, each with its own handle, apply disjoint keys and
    retry on ConcurrentWriteError: no committed version is lost, and
    version numbers stay contiguous."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from cdc_spark.streaming.state import ConcurrentWriteError

    path = str(tmp_path / "stress")
    BucketedStateTable(spark, path, ["id"], n_buckets=4).apply(
        _changes(spark, [(0, "s", 0, "c", 0)]), ["name", "qty"]
    )
    losses = []

    def writer(w: int) -> None:
        t = BucketedStateTable(spark, path, ["id"], n_buckets=4)
        rows = [(10 * w + i, "x", w, "c", 1) for i in (1, 2)]
        for _ in range(20):
            try:
                t.apply(_changes(spark, rows), ["name", "qty"])
                return
            except ConcurrentWriteError:
                losses.append(w)
        raise AssertionError(f"writer {w} never committed")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the commits' Python steps
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(writer, range(4), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    t = BucketedStateTable(spark, path, ["id"], n_buckets=4)
    assert losses  # the writers did race
    assert t.current_version() == 5  # the seed plus one per writer
    assert all(os.path.exists(t._manifest_path(v)) for v in range(1, 6))
    want = {0} | {10 * w + i for w in range(4) for i in (1, 2)}
    assert {r.id for r in t.read().collect()} == want
    assert t.row_count() == len(want)
    assert _staging_dirs(path) == []


def test_stale_writer_does_not_resurrect_vacuumed_version(spark, tmp_path):
    """B plans against v1 (target v2); meanwhile A commits v2 and v3,
    both rewriting one bucket, and vacuum removes v2. B's rename would
    succeed onto the gap: it must raise and leave nothing behind."""
    from cdc_spark.streaming.state import ConcurrentWriteError

    path = str(tmp_path / "gap")
    a = BucketedStateTable(spark, path, ["id"], n_buckets=4)
    b = BucketedStateTable(spark, path, ["id"], n_buckets=4)
    bucket_of = dict(
        spark.range(40)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)))
        .collect()
    )
    x = [k for k in range(40) if bucket_of[k] == 0][:1]
    y = [k for k in range(40) if bucket_of[k] == 1][:3]
    a.apply(_changes(spark, [(x[0], "x", 0, "c", 1)]), ["name", "qty"])
    commit_b = b._commit_new_version

    def a_commits_and_vacuums(*args, **kw):
        for lsn, k in enumerate(y[:2], start=2):  # v2, v3: bucket 1
            a.apply(_changes(spark, [(k, "y", lsn, "c", lsn)]), ["name", "qty"])
        assert a.vacuum(keep_last=1)["removed"] == [2]
        return commit_b(*args, **kw)

    b._commit_new_version = a_commits_and_vacuums
    with pytest.raises(ConcurrentWriteError):
        # bucket 1 is empty in v1: B's merge reads no base file
        b.apply(_changes(spark, [(y[2], "z", 9, "c", 9)]), ["name", "qty"])
    assert not os.path.exists(a._version_dir(2))
    assert _staging_dirs(path) == []
    assert a.current_version() == 3
    assert {r.id for r in a.read().collect()} == {x[0], y[0], y[1]}


_CRASH_SCHEMA = "op string, lsn long, k long, g string, v double"


class _Crash(Exception):
    pass


@pytest.mark.parametrize(
    "seam,nth",
    [
        ("staged_data", 1),
        ("staged_data", 2),
        ("staged_manifest", 1),
        ("renamed", 2),
        ("ivm_gap", 1),
    ],
)
def test_crash_at_each_commit_step_then_replay(spark, tmp_path, monkeypatch, seam, nth):
    """Crash matrix of the commit protocol. Batch 1 of an IVM apply
    crashes at one step of the nth commit (1: the row state, 2: the
    aggregate) or in the gap between the two commits. Fresh handles
    then replay batch 1 under the same batch_id and apply batch 2:
    state, aggregate, progress and a vacuum must all come out as if
    nothing had crashed."""
    import cdc_spark.streaming.state as state_mod
    from cdc_spark.cdc.ivm import base_agg, finish_agg
    from cdc_spark.streaming.ivm_sink import IncrementalAggregate

    measures = {"sum_v": F.col("v")}

    def open_():
        st = BucketedStateTable(spark, str(tmp_path / "rows"), ["k"], n_buckets=4)
        return IncrementalAggregate(
            st, str(tmp_path / "agg"), ["g"], measures, n_buckets=4
        )

    batches = [
        [("c", 1, 1, "a", 1.0), ("c", 2, 2, "a", 2.0), ("c", 3, 3, "b", 4.0)],
        [("u", 4, 1, "b", 1.5), ("d", 5, 2, None, None), ("c", 6, 4, "c", 8.0)],
        [("u", 7, 3, "c", 0.5), ("c", 8, 5, "a", 3.0)],
    ]

    def apply(inc, i):
        inc.apply(spark.createDataFrame(batches[i], _CRASH_SCHEMA), ["g", "v"], batch_id=i)

    def crash_after(fn):
        calls = []

        def wrapped(*args, **kw):
            out = None if seam == "ivm_gap" else fn(*args, **kw)
            calls.append(1)
            if len(calls) == nth:
                raise _Crash(seam)
            return out

        return wrapped

    inc = open_()
    apply(inc, 0)
    if seam == "staged_data":  # the Spark write into the staging dir
        target = (BucketedStateTable, "_file_stats")
    elif seam == "staged_manifest":  # the staging dir's manifest
        target = (state_mod, "_fsync_write")
    elif seam == "renamed":  # the commit, before apply returns
        target = (BucketedStateTable, "_commit_new_version")
    else:  # row state committed, the aggregate's merge never runs
        target = (IncrementalAggregate, "_merge_delta")
    monkeypatch.setattr(*target, crash_after(getattr(*target)))
    with pytest.raises(_Crash):
        apply(inc, 1)
    monkeypatch.undo()
    if seam.startswith("staged"):  # the crash left a staging dir
        assert _staging_dirs((inc.state, inc.table)[nth - 1].path)

    inc = open_()
    apply(inc, 1)  # replay under the same batch_id
    apply(inc, 2)
    st = inc.state

    fold: dict = {}
    for op, _, k, g, v in (c for b in batches for c in b):
        if op == "d":
            fold.pop(k, None)
        else:
            fold[k] = (g, v)
    assert {r.k: (r.g, r.v) for r in st.read().collect()} == fold
    want = finish_agg(base_agg(st.read(), ["g"], measures), ["g"], ["sum_v"])
    agg = sorted(map(tuple, want.collect()))
    assert sorted(map(tuple, inc.read().collect())) == agg
    p = st.replication_progress()
    assert (p["batch_id"], p["applied_lsn"]) == (2, 8)
    assert st.current_version() == 3

    for t in (st, inc.table):
        kept = t.vacuum()["kept"]
        for v in kept:
            if os.path.exists(t._manifest_path(v)):
                assert all(
                    os.path.exists(os.path.join(t.path, rel))
                    for rel in t._load_manifest(v)["files"]
                )
        assert _staging_dirs(t.path) == []
    assert {r.k: (r.g, r.v) for r in st.read().collect()} == fold
    assert sorted(map(tuple, inc.read().collect())) == agg


def test_batch_id_makes_replay_exactly_once(spark, tmp_path):
    """A replayed foreachBatch epoch (same batch_id) must be a no-op:
    no version bump, no bucket rewrite — even though the batch's
    content would otherwise merge 'successfully' a second time."""
    from pyspark.sql import functions as F

    st = BucketedStateTable(spark, str(tmp_path / "eo"), ["k"], n_buckets=4)
    b1 = spark.createDataFrame(
        [("c", 1, 1, "a"), ("c", 2, 2, "b")], "op string, lsn long, k long, v string"
    )
    v1 = st.apply(b1, ["v"], batch_id=7)
    assert st._load_manifest(v1)["batch_id"] == 7
    v2 = st.apply(b1, ["v"], batch_id=7)  # replay
    assert v2 == v1
    # a NEW epoch with overlapping keys applies normally
    b2 = spark.createDataFrame(
        [("u", 3, 1, "a2")], "op string, lsn long, k long, v string"
    )
    v3 = st.apply(b2, ["v"], batch_id=8)
    assert v3 == v1 + 1
    got = sorted((r.k, r.v) for r in st.read().collect())
    assert got == [(1, "a2"), (2, "b")]


def test_batch_id_replay_skip_in_ivm_sink(spark, tmp_path):
    from pyspark.sql import functions as F

    from cdc_spark.streaming.ivm_sink import IncrementalAggregate

    st = BucketedStateTable(spark, str(tmp_path / "rows"), ["k"], n_buckets=4)
    inc = IncrementalAggregate(
        st, str(tmp_path / "agg"), ["g"], {"sum_v": F.col("v")}, n_buckets=2
    )
    b = spark.createDataFrame(
        [("c", 1, 1, "x", 2.0), ("c", 2, 2, "x", 3.0)],
        "op string, lsn long, k long, g string, v double",
    )
    v1 = inc.apply(b, ["g", "v"], batch_id=3)
    rows1 = sorted(
        (r.g, r.n_rows, r.sum_v) for r in inc.read().collect()
    )
    v2 = inc.apply(b, ["g", "v"], batch_id=3)  # replay
    assert v2 == v1
    rows2 = sorted(
        (r.g, r.n_rows, r.sum_v) for r in inc.read().collect()
    )
    assert rows2 == rows1 == [("x", 2, 5.0)]


def test_replication_progress_tracks_applied_lsn(spark, tmp_path):
    st = BucketedStateTable(spark, str(tmp_path / "prog"), ["k"], n_buckets=4)
    assert st.replication_progress() is None
    st.apply(
        spark.createDataFrame(
            [("c", 5, 1, "a"), ("c", 9, 2, "b")],
            "op string, lsn long, k long, v string",
        ),
        ["v"],
        batch_id=0,
    )
    p = st.replication_progress()
    assert p["applied_lsn"] == 9 and p["batch_id"] == 0
    # watermark is monotone even if a later batch carries older lsns
    st.apply(
        spark.createDataFrame(
            [("u", 7, 1, "a2")], "op string, lsn long, k long, v string"
        ),
        ["v"],
        batch_id=1,
    )
    p = st.replication_progress()
    assert p["applied_lsn"] == 9 and p["batch_id"] == 1 and p["version"] == 2


def test_vacuum_keeps_referenced_inherited_buckets(spark, tmp_path):
    """GC must never delete a version directory a retained manifest
    still references through bucket inheritance, and the current
    version must stay fully readable afterward."""
    import os

    st = BucketedStateTable(spark, str(tmp_path / "vac"), ["k"], n_buckets=4)
    schema = "op string, lsn long, k long, v string"
    # v1: seed many keys (all buckets); v2..v4: single-key touches that
    # rewrite one bucket each, inheriting the rest from v1
    st.apply(
        spark.createDataFrame(
            [("c", i, i, f"x{i}") for i in range(1, 9)], schema
        ),
        ["v"],
    )
    for j in range(3):
        st.apply(
            spark.createDataFrame([("u", 100 + j, 1, f"y{j}")], schema),
            ["v"],
        )
    assert st.current_version() == 4
    before = sorted((r.k, r.v) for r in st.read().collect())
    res = st.vacuum(keep_last=2)
    # v1 must survive (v3/v4 inherit buckets from it); at least one
    # superseded intermediate must be gone
    assert 1 in res["kept"]
    assert res["removed"], res
    for v in res["removed"]:
        assert not os.path.exists(st._version_dir(v))
    after = sorted((r.k, r.v) for r in st.read().collect())
    assert after == before
    # time travel to removed versions is gone, retained ones still work
    assert st.read(version=st.current_version()) is not None


def test_ivm_resync_survives_vacuum(spark, tmp_path):
    """If the agg's recorded pre version was vacuumed away, resync
    falls back to a full rebuild and still matches a recompute."""
    from pyspark.sql import functions as F

    from cdc_spark.streaming.ivm_sink import IncrementalAggregate

    st = BucketedStateTable(spark, str(tmp_path / "rows"), ["k"], n_buckets=4)
    inc = IncrementalAggregate(
        st, str(tmp_path / "agg"), ["g"], {"sum_v": F.col("v")}, n_buckets=2
    )
    schema = "op string, lsn long, k long, g string, v double"
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], schema
        ),
        ["g", "v"],
    )
    # state-only applies (agg left behind), then vacuum away history
    for j in range(3):
        st.apply(
            spark.createDataFrame(
                [("u", 10 + j, 1, "a", 5.0 + j)], schema
            ),
            ["g", "v"],
        )
    st.vacuum(keep_last=1)
    inc.apply(
        spark.createDataFrame([("c", 50, 3, "b", 9.0)], schema),
        ["g", "v"],
    )
    got = sorted((r.g, r.n_rows, r.sum_v) for r in inc.read().collect())
    assert got == [("a", 1, 7.0), ("b", 2, 11.0)]


def test_ivm_resync_rebuilds_when_pre_files_vacuumed(spark, tmp_path):
    """The agg's pre version survives vacuum (a retained manifest lists
    its own files) but an older file its manifest lists does not: the
    resync must rebuild, not fail reading the missing file."""
    from cdc_spark.streaming.ivm_sink import IncrementalAggregate

    st = BucketedStateTable(spark, str(tmp_path / "rows"), ["k"], n_buckets=4)
    inc = IncrementalAggregate(
        st, str(tmp_path / "agg"), ["g"], {"sum_v": F.col("v")}, n_buckets=2
    )
    schema = "op string, lsn long, k long, g string, v double"
    bucket_of = dict(
        spark.range(40)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)))
        .collect()
    )
    first = {bucket_of[k]: k for k in range(39, 0, -1)}  # a key per bucket
    inc.apply(  # v1: every bucket
        spark.createDataFrame(
            [("c", k, k, "a", 1.0) for k in range(1, 40)], schema
        ),
        ["g", "v"],
    )
    inc.apply(  # v2: bucket 0 only; the agg reflects v2
        spark.createDataFrame([("u", 100, first[0], "a", 2.0)], schema),
        ["g", "v"],
    )
    st.apply(  # v3, state only: every other bucket, so v1 is unlisted
        spark.createDataFrame(
            [("u", 100 + b, first[b], "b", 3.0) for b in (1, 2, 3)], schema
        ),
        ["g", "v"],
    )
    assert st.vacuum(keep_last=1) == {"removed": [1], "kept": [2, 3]}
    inc.apply(
        spark.createDataFrame([("c", 200, 77, "c", 5.0)], schema), ["g", "v"]
    )
    got = sorted((r.g, r.n_rows, r.sum_v) for r in inc.read().collect())
    assert got == [("a", 36, 37.0), ("b", 3, 9.0), ("c", 1, 5.0)]


def test_read_as_of_lsn_snapshot_consistency(spark, tmp_path):
    """AS-OF-LSN reads resolve to the newest version whose applied
    watermark is <= the asked position — the state exactly as it stood
    at that WAL point."""
    st = BucketedStateTable(spark, str(tmp_path / "asof"), ["k"], n_buckets=4)
    schema = "op string, lsn long, k long, v string"
    st.apply(spark.createDataFrame([("c", 10, 1, "a")], schema), ["v"])
    st.apply(spark.createDataFrame([("u", 20, 1, "a2")], schema), ["v"])
    st.apply(
        spark.createDataFrame(
            [("c", 30, 2, "b"), ("d", 31, 1, None)], schema
        ),
        ["v"],
    )

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    assert rows(st.read_as_of_lsn(10)) == [(1, "a")]
    assert rows(st.read_as_of_lsn(15)) == [(1, "a")]
    assert rows(st.read_as_of_lsn(20)) == [(1, "a2")]
    assert rows(st.read_as_of_lsn(99)) == [(2, "b")]
    assert st.read_as_of_lsn(5) is None  # before any applied state


def test_hot_key_skewed_batch_applies_correctly(spark, tmp_path):
    """Skew stress: a batch where 95% of changes hit ONE key (the
    Zipf-head shape a busy CDC entity produces) must fold to the same
    state as an even batch — the per-key fold is a hash aggregate with
    map-side combine, so the hot key reduces to one row per partition
    before the shuffle rather than concentrating raw rows on one
    reducer."""
    from pyspark.sql import functions as F

    st = BucketedStateTable(spark, str(tmp_path / "hot"), ["k"], n_buckets=8)
    n = 20_000
    rows = spark.range(n).select(
        F.lit("u").alias("op"),
        F.col("id").alias("lsn"),
        # 95% of rows on key 0, the rest spread over 1..999
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .cast("long")
        .alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    st.apply(rows, ["v"])
    got = {r.k: r.v for r in st.read().collect()}
    # the hot key's final value is the max-lsn update for k=0
    want_hot = f"v{max(i for i in range(n) if i % 20 != 0)}"
    assert got[0] == want_hot
    # spot-check a cold key: max lsn among id%20==0 with id%1000==that key
    assert got[40] == f"v{max(i for i in range(n) if i % 20 == 0 and i % 1000 == 40)}"
    assert len(got) == len(
        {0} | {i % 1000 for i in range(n) if i % 20 == 0}
    )


def test_version_diff_classifies_ops_and_prunes_inherited(spark, table):
    # v1: keys 1..64 so every bucket holds rows
    v1 = _narrow(spark, table, range(1, 65))
    # v2: update key 1, delete key 2, create key 100, and a no-op
    # rewrite of key 3 (same values — must NOT appear in the diff)
    v2 = table.apply(
        _changes(
            spark,
            [
                (1, "upd", 999, "u", 100),
                (2, None, None, "d", 101),
                (100, "new", 1, "c", 102),
                (3, "n3", 3, "u", 103),
            ],
        ),
        ["name", "qty"],
    )
    diff = table.version_diff(v1, v2)
    got = {r.id: (r.op, r.name, r.qty) for r in diff.collect()}
    assert got == {
        1: ("u", "upd", 999),
        2: ("d", None, None),
        100: ("c", "new", 1),
    }
    # pruning: only files of buckets whose file list changed are
    # opened — walk the physical plan's file scans and check every
    # root path is a file a changed bucket lists
    man1, man2 = _manifest(table, v1), _manifest(table, v2)
    changed_files = {
        os.path.normpath(os.path.join(table.path, rel))
        for man in (man1, man2)
        for b, files in man["buckets"].items()
        if man1["buckets"].get(b) != man2["buckets"].get(b)
        for rel in files
    }
    all_files = {
        os.path.normpath(os.path.join(table.path, rel))
        for man in (man1, man2)
        for rel in man["files"]
    }
    assert changed_files < all_files  # some buckets must be inherited

    def _scan_roots(node, acc):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return _scan_roots(node.initialPlan(), acc)
        if cls == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            for i in range(paths.size()):
                acc.add(
                    os.path.normpath(
                        paths.apply(i).toString().replace("file:", "")
                    )
                )
        for i in range(node.children().size()):
            _scan_roots(node.children().apply(i), acc)
        return acc

    opened = _scan_roots(
        diff._jdf.queryExecution().executedPlan(), set()
    )
    opened = {p for p in opened if p.startswith(os.path.normpath(table.path))}
    assert opened and opened <= changed_files


def test_version_diff_multi_version_span(spark, table):
    # diffs across a span where some buckets changed in v2 only, some
    # in v3 only — both must be covered, all others inherited
    table.apply(
        _changes(spark, [(i, f"n{i}", i, "c", i) for i in range(1, 33)]),
        ["name", "qty"],
    )
    table.apply(_changes(spark, [(5, "a", 50, "u", 100)]), ["name", "qty"])
    v3 = table.apply(
        _changes(spark, [(17, None, None, "d", 200)]), ["name", "qty"]
    )
    diff = table.version_diff(1, v3)
    got = {r.id: r.op for r in diff.collect()}
    assert got == {5: "u", 17: "d"}


def test_apply_widens_schema_mid_stream(spark, table):
    # batch 1: 3-column rows fill several buckets
    table.apply(
        _changes(spark, [(i, f"n{i}", i, "c", i) for i in range(1, 17)]),
        ["name", "qty"],
    )
    # batch 2 carries a NEW payload column (migration-002 shape)
    wide = spark.createDataFrame(
        [(1, "upd", 99, "p1", "u", 100), (40, "new", 1, "p40", "c", 101)],
        "id long, name string, qty long, phone string, op string, lsn long",
    )
    table.apply(wide, ["name", "qty", "phone"])
    got = {r.id: (r.name, r.qty, r.phone) for r in table.read().collect()}
    assert got[1] == ("upd", 99, "p1")
    assert got[40] == ("new", 1, "p40")
    # rows living in INHERITED (never-rewritten) buckets null-backfill
    untouched = [i for i in got if i not in (1, 40)]
    assert untouched and all(got[i][2] is None for i in untouched)

    # compaction reads the fragments with the manifest's schema: the
    # old buckets' rows are rewritten with the new column null-filled
    from cdc_spark.operators.maintenance import compact_buckets

    v = compact_buckets(table, target_file_bytes=1 << 30, min_files=1)
    man = _manifest(table, v)
    assert man["compaction"] is True
    assert {r.id: (r.name, r.qty, r.phone) for r in table.read().collect()} == got
    compacted = spark.read.parquet(
        *[os.path.join(table.path, rel) for rel in man["files"]]
    )
    assert {r.id: (r.name, r.qty, r.phone) for r in compacted.collect()} == got


def test_version_diff_across_schema_evolution(spark, table):
    table.apply(
        _changes(spark, [(1, "a", 1, "c", 1), (2, "b", 2, "c", 2)]),
        ["name", "qty"],
    )
    wide = spark.createDataFrame(
        [(1, "a", 1, "p1", "u", 10), (3, "c", 3, "p3", "c", 11)],
        "id long, name string, qty long, phone string, op string, lsn long",
    )
    v2 = table.apply(wide, ["name", "qty", "phone"])
    got = {
        r.id: (r.op, r.phone, r.old_phone)
        for r in table.version_diff(1, v2, include_old=True).collect()
    }
    # key 1: only the NEW column changed (null -> p1) — still a 'u';
    # its old image for the post-evolution column is null by rule
    assert got[1] == ("u", "p1", None)
    assert got[3] == ("c", "p3", None)
    assert 2 not in got  # untouched key in an inherited bucket


def test_local_fs_path_seam(spark, tmp_path, monkeypatch):
    """Round 14: the state layer's file IO (manifests, the commit
    rename, footer counts) is local-filesystem-only through ONE seam —
    a file: URI normalizes to the bare path, any other scheme fails
    loudly instead of feeding a URI to os.listdir."""
    from cdc_spark.streaming.state import local_fs_path

    monkeypatch.chdir(tmp_path)

    p = str(tmp_path / "seam_state")
    assert local_fs_path(p) == p
    assert local_fs_path("file:" + p) == p
    assert local_fs_path("file://" + p) == p  # file:///abs form
    with pytest.raises(NotImplementedError):
        local_fs_path("s3://bucket/state")
    with pytest.raises(NotImplementedError):
        local_fs_path("hdfs://nn:8020/state")

    # a file:-prefixed table behaves identically to the bare path
    t = BucketedStateTable(spark, "file:" + p, ["id"], n_buckets=4)
    t.apply(
        _changes(spark, [(1, "a", 10, "c", 1), (2, "b", 20, "c", 2)]),
        ["name", "qty"],
    )
    assert t.path == p
    assert t.row_count() == 2
    assert t.read().count() == 2
    # the URI never reaches a relative os call: nothing named file:
    # appears in the working directory
    assert not [n for n in os.listdir(tmp_path) if n.startswith("file:")]

    with pytest.raises(NotImplementedError):
        BucketedStateTable(spark, "s3://bucket/state", ["id"])


def test_row_count_matches_read_regardless_of_file_names(spark, tmp_path):
    """r13 ADVICE: row_count() must count exactly the rows read()
    returns. Both follow the manifest's file lists, so a data file in
    the version directory that no bucket lists (an aborted or external
    writer's, named like any other) is in neither, and a file whose
    sibling bucket was rewritten counts only its still-listed rows."""
    import shutil

    t = BucketedStateTable(spark, str(tmp_path / "rc"), ["id"], n_buckets=2)
    t.apply(
        _changes(
            spark,
            [(i, "x", i, "c", i) for i in range(1, 21)],
        ),
        ["name", "qty"],
    )
    man = _manifest(t, t.current_version())
    rel = next(iter(man["files"]))
    src = os.path.join(t.path, rel)
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-99999-stray.parquet"))
    assert t.row_count() == t.read().count() == 20
    # rewrite one bucket only: the first write's files stay listed
    # under the other bucket and hold stale rows of the rewritten one
    t.apply(_changes(spark, [(1, "y", 1, "u", 50)]), ["name", "qty"])
    man = _manifest(t, t.current_version())
    assert rel in man["files"] and len(man["buckets"]) == 2
    assert t.row_count() == t.read().count() == 20
    assert {r.id: r.name for r in t.read().collect()}[1] == "y"
    # the count is the manifest's: it opens no data file
    for r in man["files"]:
        open(os.path.join(t.path, r), "w").close()
    assert t.row_count() == 20


def test_insert_only_append_generations(spark, tmp_path):
    """Round 14: insert_only=True appends a delta generation per
    touched bucket — prior bucket files are untouched (byte-identical),
    reads/row_count/version_diff see the union, and the result equals
    what the merge path would produce."""
    ta = BucketedStateTable(
        spark, str(tmp_path / "app"), ["id"], n_buckets=4
    )
    tb = BucketedStateTable(
        spark, str(tmp_path / "ref"), ["id"], n_buckets=4
    )
    seed = [(i, "s", i * 10, "c", i) for i in range(1, 9)]
    batch = [(i, "n", i * 10, "c", i) for i in range(100, 110)]
    for t in (ta, tb):
        t.apply(_changes(spark, seed), ["name", "qty"])
    v1 = ta.current_version()
    files_before = _bucket_files(ta.path, _manifest(ta, v1))

    ta.apply(_changes(spark, batch), ["name", "qty"], insert_only=True)
    tb.apply(_changes(spark, batch), ["name", "qty"])

    v2 = ta.current_version()
    man2 = _manifest(ta, v2)
    # every touched bucket's list is now the v1 files followed by the
    # appended v2 files
    lists = {
        b: files for b, files in man2["buckets"].items() if generations(files) > 1
    }
    assert lists, "append apply produced no generation lists"
    for b, files in lists.items():
        head = _manifest(ta, v1)["buckets"][b]
        assert files[: len(head)] == head
        assert all(rel.startswith(f"v{v2}/") for rel in files[len(head) :])
    # prior generation files byte-identical (never rewritten)
    files_after = _bucket_files(ta.path, _manifest(ta, v1))
    assert files_before == files_after

    a = {tuple(r) for r in ta.read().collect()}
    b_ = {tuple(r) for r in tb.read().collect()}
    assert a == b_ and len(a) == 18
    assert ta.row_count() == tb.read().count() == 18

    diff = {
        (r["op"], r["id"]) for r in ta.version_diff(v1, v2).collect()
    }
    assert diff == {("c", i) for i in range(100, 110)}


def test_insert_only_generation_cap_folds(spark, tmp_path, monkeypatch):
    """At MAX_GENERATIONS the apply falls back to the merge path and
    the touched buckets fold to one version's files again."""
    import cdc_spark.streaming.state as state_mod

    monkeypatch.setattr(state_mod, "MAX_GENERATIONS", 2)
    t = BucketedStateTable(
        spark,
        str(tmp_path / "cap"),
        ["id"],
        n_buckets=2,
    )
    t.apply(
        _changes(spark, [(i, "s", i, "c", i) for i in range(1, 5)]),
        ["name", "qty"],
    )
    t.apply(
        _changes(spark, [(i, "a", i, "c", i) for i in range(10, 14)]),
        ["name", "qty"],
        insert_only=True,
    )
    man = _manifest(t, t.current_version())
    assert any(generations(files) > 1 for files in man["buckets"].values())
    # next insert-only apply hits the cap on the touched buckets and
    # folds them via the merge path (one version's files again)
    t.apply(
        _changes(spark, [(i, "b", i, "c", i) for i in range(20, 24)]),
        ["name", "qty"],
        insert_only=True,
    )
    man = _manifest(t, t.current_version())
    assert all(generations(files) == 1 for files in man["buckets"].values())
    assert t.read().count() == 12 == t.row_count()


def test_insert_only_batch_with_delete_takes_merge_path(spark, tmp_path):
    """An insert_only batch that deletes a stored key must not append:
    an appended generation cannot remove the stored image, so the
    delete would be dropped. The apply takes the merge path and the
    key is gone."""
    t = BucketedStateTable(
        spark, str(tmp_path / "del"), ["id"], n_buckets=4
    )
    t.apply(
        _changes(spark, [(i, "s", i, "c", i) for i in range(1, 5)]),
        ["name", "qty"],
    )
    t.apply(
        _changes(spark, [(2, None, None, "d", 10), (7, "n", 7, "c", 11)]),
        ["name", "qty"],
        insert_only=True,
    )
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4, 7]
    assert t.row_count() == 4


def test_vacuum_pins_generation_heads(spark, tmp_path):
    """Vacuum must keep every version directory any retained
    generation list references."""
    t = BucketedStateTable(
        spark, str(tmp_path / "vac"), ["id"], n_buckets=2
    )
    t.apply(
        _changes(spark, [(1, "s", 1, "c", 1), (2, "s", 2, "c", 2)]),
        ["name", "qty"],
    )
    for i in range(2):
        t.apply(
            _changes(spark, [(10 + i, "a", i, "c", 10 + i)]),
            ["name", "qty"],
            insert_only=True,
        )
    res = t.vacuum(keep_last=1)
    # v1 holds generation heads referenced by the current manifest
    assert 1 in res["kept"]
    assert t.read().count() == 4 == t.row_count()


def test_compact_folds_generations(spark, tmp_path):
    from cdc_spark.operators.maintenance import compact_buckets

    t = BucketedStateTable(
        spark, str(tmp_path / "cmp"), ["id"], n_buckets=2
    )
    t.apply(
        _changes(spark, [(i, "s", i, "c", i) for i in range(1, 5)]),
        ["name", "qty"],
    )
    t.apply(
        _changes(spark, [(i, "a", i, "c", i) for i in range(10, 14)]),
        ["name", "qty"],
        insert_only=True,
    )
    before = {tuple(r) for r in t.read().collect()}
    v_new = compact_buckets(t, min_files=1000)  # lists force the fold
    man = _manifest(t, v_new)
    assert all(generations(files) == 1 for files in man["buckets"].values())
    assert {tuple(r) for r in t.read().collect()} == before
    assert t.row_count() == len(before)


def test_self_scanning_apply_evaluates_each_change_once(spark, tmp_path):
    """An apply that scans its own batch materializes it in that scan:
    the merge reads the stored blocks, so the batch's source runs once
    per row per apply, and the blocks are released on return."""
    t = BucketedStateTable(
        spark, str(tmp_path / "once"), ["id"], n_buckets=4
    )
    t.apply(
        _changes(spark, [(i, "s", i, "c", i) for i in range(1, 5)]),
        ["name", "qty"],
    )
    seen = spark.sparkContext.accumulator(0)

    def count(i):
        seen.add(1)
        return i

    rows = [(2, "u", 20, "u", 10), (3, None, None, "d", 11), (9, "n", 9, "c", 12)]
    batch = _changes(spark, rows).withColumn(
        "id", F.udf(count, "long")("id")
    )
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = {i.id() for i in stored()}
    t.apply(batch, ["name", "qty"])
    assert seen.value == len(rows)
    assert {i.id() for i in stored()} <= before
    assert sorted((r.id, r.name, r.qty) for r in t.read().collect()) == [
        (1, "s", 1),
        (2, "u", 20),
        (4, "s", 4),
        (9, "n", 9),
    ]


def test_random_interleaving_matches_reference_fold(spark, tmp_path, monkeypatch):
    """Applies over random bucket subsets, insert-only appends past the
    generation cap, a truncate, a compaction and a vacuum, checked
    after every step against a pure-Python latest-wins fold: read(),
    read_buckets(), read(version=) of a retained version,
    version_diff() of the last commit and row_count(). The first
    apply after the all-bucket seed rewrites some buckets only, so
    files written for the seed stay live for their other buckets."""
    import random

    import cdc_spark.streaming.state as state_mod
    from cdc_spark.operators.maintenance import compact_buckets

    monkeypatch.setattr(state_mod, "MAX_GENERATIONS", 2)
    rng = random.Random(8)
    n_buckets = 4
    t = BucketedStateTable(spark, str(tmp_path / "mix"), ["id"], n_buckets=n_buckets)
    pool = 80
    bucket_of = dict(
        spark.range(pool)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(n_buckets)))
        .collect()
    )
    by_bucket = {b: [k for k in range(pool) if bucket_of[k] == b] for b in range(n_buckets)}
    refs: dict[int, dict] = {}  # version -> {id: (name, qty)}
    cur: dict = {}
    lsn = 0

    def rows(df):
        return {r.id: (r.name, r.qty) for r in df.collect()}

    def batch(keys_ops):
        nonlocal lsn
        out = []
        for k, op in keys_ops:
            lsn += 1
            out.append((k, f"s{lsn}", lsn, op, lsn) if op != "d" else (k, None, None, "d", lsn))
        return out

    def fold(state, changes):
        state = dict(state)
        for k, name, qty, op, _ in sorted(changes, key=lambda c: c[4]):
            if op == "t":
                state.clear()
            elif op == "d":
                state.pop(k, None)
            else:
                state[k] = (name, qty)
        return state

    def commit(changes, **kw):
        nonlocal cur
        v = t.apply(_changes(spark, changes), ["name", "qty"], **kw)
        cur = fold(cur, changes)
        refs[v] = cur
        return v

    def random_apply():
        subset = rng.sample(range(n_buckets), rng.randint(1, 2))
        keys = rng.sample([k for b in subset for k in by_bucket[b]], 4)
        ops = []
        for k in keys:
            ops.append((k, rng.choice("ud") if k in cur else "c"))
            if rng.random() < 0.3:  # a second change of the same key
                ops.append((k, rng.choice("uc")))
        return commit(batch(ops))

    def append():
        subset = rng.sample(range(n_buckets), rng.randint(1, 2))
        fresh = [k for b in subset for k in by_bucket[b] if k not in cur]
        return commit(batch((k, "c") for k in rng.sample(fresh, 3)), insert_only=True)

    def check(step):
        v = t.current_version()
        assert rows(t.read()) == refs[v], step
        assert t.row_count() == len(refs[v]), step
        s = rng.sample(range(n_buckets), 2)
        want = {k: r for k, r in refs[v].items() if bucket_of[k] in s}
        assert rows(t.read_buckets(s)) == want, step
        old = rng.choice([w for w in refs if os.path.exists(t._manifest_path(w))])
        assert rows(t.read(version=old)) == refs[old], step
        if v - 1 in refs and os.path.exists(t._manifest_path(v - 1)):
            a, b = refs[v - 1], refs[v]
            want = {k: ("d", None, None) for k in a.keys() - b.keys()}
            want.update({k: ("c", *b[k]) for k in b.keys() - a.keys()})
            want.update({k: ("u", *b[k]) for k in a.keys() & b.keys() if a[k] != b[k]})
            got = {r.id: (r.op, r.name, r.qty) for r in t.version_diff(v - 1, v).collect()}
            assert got == want, step

    commit(batch((k, "c") for k in rng.sample(range(pool), 24)))
    assert t._manifest()["touched"] == list(range(n_buckets))
    check("seed")
    random_apply()
    assert 0 < len(t._manifest()["touched"]) < n_buckets
    check("partial rewrite")
    for step in ("apply", "append", "append", "append past cap", "apply"):
        random_apply() if step == "apply" else append()
        check(step)
    commit(batch([(0, "t"), *((k, "c") for k in rng.sample(range(pool), 6))]))
    check("truncate")
    random_apply()
    check("apply after truncate")
    v = compact_buckets(t, target_file_bytes=1 << 30, min_files=1)
    refs[v] = cur
    check("compaction")
    for step in ("apply", "append"):
        random_apply() if step == "apply" else append()
        check(step)
    removed = t.vacuum(keep_last=2)["removed"]
    assert removed
    check("vacuum")
    random_apply()
    check("apply after vacuum")

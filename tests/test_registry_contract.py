"""Inventory-contract guardrails over the query registry.

The driver's correctness gate is only as strong as the registry it
samples: these checks pin the contract so a refactor cannot silently
drop an oracle, blank a note, or register a duplicate — and the
rows-only set stays the EXPLICIT, justified whitelist it is meant to
be (inherently approximate / sequential operators only).
"""

from __future__ import annotations

import re

from cdc_spark.queries import REGISTRY

# The only entries allowed to skip the DuckDB oracle, each for a
# documented structural reason (approximation or sequential fold).
ROWS_ONLY_WHITELIST = {
    "q31_approx_stats",          # HLL / approx-percentile sketches
    "dp01_sequence_packing",     # sequential next-fit fold
    "dp02_packing_efficiency",   # derived from dp01's fold
    # ss03/ss06 left this set in round 6: the deterministic
    # integer-quantized codebook made the IVF path hash-checkable
}


def test_every_query_has_note_and_tags():
    for name, spec in REGISTRY.items():
        assert spec.note and len(spec.note) >= 10, f"{name}: thin note"
        assert spec.tags, f"{name}: no tags"


def test_rows_only_set_is_exactly_the_whitelist():
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    assert rows_only == ROWS_ONLY_WHITELIST


def test_names_follow_family_convention():
    pat = re.compile(
        r"^(cdc|dd|dp|io|mm|pu|q|ss|st|tx)\d{2,3}_[a-z0-9_]+$"
    )
    for name in REGISTRY:
        assert pat.match(name), f"unconventional name: {name}"


def test_oracles_ground_in_registered_tables_or_literals():
    """Every oracle must read at least one driver-registered table or
    be a pure VALUES literal — an oracle that references nothing the
    driver registers would silently compare garbage."""
    known = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    )
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        o = spec.oracle.lower()
        grounded = (
            any(re.search(rf"\b{t}\b", o) for t in known)
            or "values" in o
            or "from" not in o  # pure literal SELECT is self-grounding
            or "range(" in o    # generator oracles (io08/io10)
        )
        assert grounded, f"{name}: oracle grounded in nothing the driver registers"


def test_rotation_prefix_is_50_oracled_entries():
    """The driver samples a 50-row prefix of queries(): it must hold
    50 distinct registered entries, every one carrying an oracle — a
    no-oracle entry there burns a gate slot on a guaranteed no_oracle
    row (the q31 lesson from round 6)."""
    import __spark_entry__ as entry

    from cdc_spark.queries.fingerprint import GATE_SLOTS

    prefix = list(entry.queries())[:GATE_SLOTS]
    assert len(set(prefix)) == GATE_SLOTS == 50
    for name in prefix:
        assert name in REGISTRY, f"{name} not registered"
        assert REGISTRY[name].oracle is not None, (
            f"{name} has no oracle — it would waste a driver slot"
        )
    assert list(entry.oracle_sql())[:GATE_SLOTS] == prefix


def test_queries_never_compute_fingerprints(monkeypatch):
    """The driver order is read from the ledger file: hashing every
    entry's source closure takes seconds and must stay in the tool."""
    import __spark_entry__ as entry

    from cdc_spark.queries import fingerprint

    def boom(*args, **kwargs):
        raise AssertionError("queries() computed fingerprints")

    monkeypatch.setattr(fingerprint, "all_fingerprints", boom)
    monkeypatch.setattr(fingerprint, "entry_fingerprint", boom)
    assert len(entry.queries()) == len(REGISTRY)
    assert len(entry.oracle_sql()) == len(REGISTRY) - len(ROWS_ONLY_WHITELIST)


# --- gate-rotation ledger (r12 verdict item 4) ----------------------
#
# tests/registry_fingerprints.json records, per entry, its fingerprint
# — oracle SQL + the transitive cdc_spark source closure of its query
# fn — and the last round whose gate prefix held it (null: changed
# since, pending). The driver order is derived from it alone; the
# synthetic ledgers below pin that rule without a Spark session.


def _ledger(**entries):
    return {n: list(v) for n, v in entries.items()}


def test_gate_order_pending_then_oldest_round_then_name():
    from cdc_spark.queries.fingerprint import gate_order

    ledger = _ledger(
        a=("fa", 14), b=("fb", None), c=("fc", 0), d=("fd", 12),
        e=("fe", None), f=("ff", 12),
    )
    assert gate_order(ledger, ledger, set(ledger)) == [
        "b", "e", "c", "d", "f", "a",
    ]
    # a registered name missing from the ledger counts as pending
    assert gate_order([*ledger, "aa"], ledger, {*ledger, "aa"})[:3] == [
        "aa", "b", "e",
    ]


def test_rows_only_entries_never_reach_the_prefix():
    from cdc_spark.queries.fingerprint import GATE_SLOTS, gate_order

    ledger = {f"o{i:03d}": [f"f{i}", 14] for i in range(GATE_SLOTS)}
    # rows-only entries that are pending and never gated still go last
    ledger.update(r1=["x", None], r2=["y", 0])
    oracled = {n for n in ledger if n.startswith("o")}
    order = gate_order(ledger, ledger, oracled)
    assert set(order[:GATE_SLOTS]) == oracled
    assert order[GATE_SLOTS:] == ["r1", "r2"]


def test_rotate_stamps_the_prefix_and_the_rest_lead_next():
    from cdc_spark.queries.fingerprint import GATE_SLOTS, gate_order, rotate

    ledger = {f"p{i:02d}": [f"old{i}", None] for i in range(60)}
    ledger.update(g=["fg", 3], h=["fh", 0])
    current = {n: f"new-{n}" for n in ledger}
    oracled = set(ledger)
    gated = gate_order(ledger, ledger, oracled)[:GATE_SLOTS]
    assert gated == [f"p{i:02d}" for i in range(GATE_SLOTS)]

    turned = rotate(ledger, current, oracled, 15)
    for n in gated:
        assert turned[n] == [current[n], 15]
    # the 10 pending entries the round could not hold lead the next
    # order, then the oldest gates; nothing else was touched
    nxt = gate_order(turned, turned, oracled)
    assert nxt[:12] == [f"p{i}" for i in range(50, 60)] + ["h", "g"]
    assert nxt[12:] == gated
    assert all(turned[n] == ledger[n] for n in ledger if n not in gated)


def test_refresh_records_new_entries_as_pending_and_drops_unregistered():
    from cdc_spark.queries.fingerprint import refresh, stale

    ledger = _ledger(kept=("fk", 12), gone=("fg", 13))
    current = {"kept": "fk", "added": "fa"}
    assert stale(ledger, current) == ["added", "gone"]
    assert refresh(ledger, current) == {
        "added": ["fa", None],
        "kept": ["fk", 12],
    }


def test_freshness_check_fails_any_drift_until_recorded():
    """RED path of test_rotation_freshness_ledger: an entry whose code
    changed fails the check whatever its round — every change must be
    recorded — and a plain tool run records it as pending."""
    from cdc_spark.queries.fingerprint import refresh, stale

    for rnd in (None, 0, 14):
        ledger = _ledger(a=("f-old", rnd), b=("fb", 11))
        current = {"a": "f-new", "b": "fb"}
        assert stale(ledger, current) == ["a"]
        recorded = refresh(ledger, current)
        assert stale(recorded, current) == []
        assert recorded == {"a": ["f-new", None], "b": ["fb", 11]}


def test_rotation_freshness_ledger():
    from cdc_spark.queries.fingerprint import (
        all_fingerprints,
        load_ledger,
        stale,
    )

    changed = stale(load_ledger(), all_fingerprints())
    assert not changed, (
        "plan or oracle changed (or an entry was added or removed) "
        "without a ledger record — run tools/update_fingerprints.py, "
        f"then tools/check_oracle.py on the names it prints: {changed}"
    )


def test_fingerprint_covers_shared_operators():
    """RED-path proof the ledger catches the dd05 class: the entry's
    fingerprint must hash the SHARED operator's source (including
    transitive helpers and function-local imports), and must move
    when any hashed component changes."""
    import dataclasses

    from cdc_spark.queries.fingerprint import (
        collect_sources,
        entry_fingerprint,
    )

    spec = REGISTRY["dd05_embedding_neardup"]
    srcs = collect_sources(spec.fn)
    # the exact miss r12 flagged: the shared LSH operator's source
    assert (
        "cdc_spark.operators.similarity.embedding_near_dup_pairs_lsh"
        in srcs
    )
    # transitive helper reached only through that operator
    assert "cdc_spark.operators.similarity._shuffle_partitions" in srcs
    # function-local `from cdc_spark... import` form (dd21 uses it)
    assert (
        "cdc_spark.operators.dedup.portable_hash60"
        in collect_sources(REGISTRY["dd21_production_recall_eval"].fn)
    )
    # function-local `import cdc_spark... as` form (cdc10 uses it)
    assert "cdc_spark.cdc.pgoutput_wire" in collect_sources(
        REGISTRY["cdc10_pgoutput_binary"].fn
    )
    # a cdc_spark module visited as an object brings in the cdc_spark
    # functions and classes it imports from other modules
    import cdc_spark.streaming.ivm_sink as ivm_sink

    assert "cdc_spark.streaming.state.BucketedStateTable" in collect_sources(
        ivm_sink
    )
    # a global referenced only from a property getter (vars() hands
    # back the property object, which isfunction() rejects)
    from cdc_spark.cdc.registry import ColumnSpec

    assert (
        "cdc_spark.cdc.typemap.spark_type_for_pg_name"
        in collect_sources(ColumnSpec)
    )
    # sensitivity: a one-character oracle change moves the print
    tampered = dataclasses.replace(
        spec, oracle=(spec.oracle or "") + " "
    )
    assert entry_fingerprint(tampered) != entry_fingerprint(spec)


# --- plan-BUILD guardrail (r11 verdict item 4) ---------------------
#
# Three rounds produced the same defect class three times (pq_encode
# r7, ivf_assign r8, lsh_bucket r11): a Column tree composed from
# thousands of F.lit calls costs one py4j round trip PER LITERAL at
# plan-build time — ~200 s of pure driver time at the sized shapes,
# invisible to correctness gates because the result is still right.
# This guardrail counts the py4j round trips of DataFrame
# CONSTRUCTION (fn call, no action) for every registry entry and
# fails past a budget, so the next instance dies in-repo instead of
# at an sf10 probe. It counts round trips, the cost the guard exists
# for, rather than wall seconds: a wall-time budget let box speed
# decide whether a storm was caught.

# Round-trip budget for entries whose fn only BUILDS a plan (py4j
# calls for the plan + optional sizing count() jobs at sf0.001).
# Measured on a 4-core box: the slowest of the 251 lazy entries make
# 8,067 (ss18) and 4,528 (ss22) round trips; the red test's storms
# make ~42k (2.5k literals) and ~170k (10k). On that box the wall
# times could not separate the two sides: cdc24 built in 6.6 s cold,
# the 2.5k storm in 6.2 s.
ROUND_TRIP_BUDGET = 20_000

# Entries whose fn EXECUTES work before returning (their wall time is
# pipeline execution, not plan build — a storm inside them would
# still surface at the oracle gates' per-entry timings). Two classes,
# both structural:
#   - everything tagged "streaming" runs micro-batch pipelines
#     (foreachBatch actions, checkpoint dirs) inside fn;
#   - the names below run batch pipelines at build by design:
#     CDC replay/apply entries materialize state tables, the
#     persisted-index entries build and cache their index, the
#     incremental-dedup entries feed multiple batches through a
#     continuous-corpus state, ss12 drives a per-probe eval loop,
#     io16 exercises a write-then-read Python datasource.
EAGER_BUILD = {
    "cdc01_golden_replay",
    "cdc10_pgoutput_binary",
    "cdc11_incremental_apply",
    "cdc14_txn_barrier",
    "cdc15_replication_progress",
    "cdc19_version_diff_feed",
    "cdc20_stream_binary_wire",
    "cdc22_bidirectional_origin_filter",
    "cdc23_checkpoint_resume",
    "cdc28_as_of_lsn_read",
    "cdc29_vacuum_survivor_state",
    "cdc33_consistent_cut_read",
    "dd13_incremental_dedup",
    "dd14_incremental_neardup",
    "io16_python_datasource_writer",
    "ss12_ann_recall_eval",
    "ss16_pq_persisted_index",
    "ss17_ivfpq_index",
}


def test_eager_build_exemptions_are_registered():
    for name in EAGER_BUILD:
        assert name in REGISTRY, f"stale exemption: {name}"


def _count_round_trips(spark, monkeypatch) -> list[int]:
    """Wrap the session's py4j client so that every round trip bumps
    the returned one-element counter.

    Classic-py4j only: the cost being counted IS the per-call py4j
    round trip. Under Spark Connect, Column trees build client-side
    with no bridge round trips, so there is nothing to count."""
    import pytest

    if not hasattr(spark, "sparkContext"):
        pytest.skip(
            "Spark Connect session: plans build client-side, the py4j "
            "round trips this guardrail counts do not exist there"
        )
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    return calls


def test_plan_build_time_bounded(spark, monkeypatch):
    """Every non-exempt entry must CONSTRUCT its DataFrame at sf0.001
    within the round-trip budget — new entries are guarded by default
    (an entry must be explicitly exempted, with a structural reason,
    to skip)."""
    calls = _count_round_trips(spark, monkeypatch)
    sf = "/root/testdata/sf0.001"
    violations = []
    for name, spec in sorted(REGISTRY.items()):
        if name in EAGER_BUILD or "streaming" in spec.tags:
            continue
        before = calls[0]
        spec.fn(spark, sf)
        n = calls[0] - before
        if n > ROUND_TRIP_BUDGET:
            violations.append(f"{name}: {n} round trips")
    assert not violations, (
        "plan construction over budget (literal storm? driver-side "
        f"loop?): {violations}"
    )


def test_guardrail_catches_literal_storm(spark, monkeypatch):
    """RED case: a Column tree of 10k literals (the pq_encode/
    ivf_assign/lsh_bucket disease) and one of 2.5k must both count
    ABOVE the budget, proving the harness detects the class it exists
    for. (The cure is one parsed SQL literal — lsh_bucket's array form
    builds in a handful of round trips.)"""
    from pyspark.sql import functions as F

    calls = _count_round_trips(spark, monkeypatch)
    for n_literals in (10_000, 2_500):
        before = calls[0]
        col = F.lit(0.0)
        for i in range(n_literals):
            col = col + F.lit(float(i))
        n = calls[0] - before
        assert n > ROUND_TRIP_BUDGET, (
            f"{n_literals}-literal tree made only {n} round trips — "
            "lower ROUND_TRIP_BUDGET to keep the guardrail binding"
        )

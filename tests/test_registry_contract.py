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
    """The driver samples a 50-row prefix of queries(): the prefix
    tier must hold EXACTLY 50 registered entries, every one carrying
    an oracle — a no-oracle entry there burns a gate slot on a
    guaranteed no_oracle row (the q31 lesson from round 6)."""
    import __spark_entry__ as entry

    prefix = entry.GATE_PREFIX
    assert len(prefix) == 50
    assert len(set(prefix)) == 50, "duplicate entries in prefix"
    for name in prefix:
        assert name in REGISTRY, f"{name} not registered"
        assert REGISTRY[name].oracle is not None, (
            f"{name} has no oracle — it would waste a driver slot"
        )
    ordered = list(entry.queries())
    assert ordered[:50] == list(prefix), "prefix is not first in queries()"


def test_next_rotation_tier_is_oracled_and_registered():
    """Entries staged for the NEXT round's rotation must already be
    registered with oracles, so the next prefix can be assembled by
    reordering alone."""
    import __spark_entry__ as entry

    nxt = entry.NEXT_TIER
    assert len(set(nxt)) == len(nxt)
    for name in nxt:
        assert name in REGISTRY, f"{name} not registered"
        assert REGISTRY[name].oracle is not None, f"{name}: no oracle"


# --- rotation-freshness ledger (r12 verdict item 4) ------------------
#
# The invariant "every oracled entry's latest driver row matches its
# current plan+oracle, or the entry is staged for the next gate" was
# hand-tracked through r12, and r12's verdict caught one miss (dd05:
# a shared operator gained two repartitions after the entry's last
# driver row). tests/registry_fingerprints.json pins each entry's
# fingerprint — oracle SQL + the transitive cdc_spark source closure
# of its query fn — as of its last staging; drift outside the staged
# tiers fails here, at commit time.


def test_rotation_freshness_ledger():
    import json
    import os

    import __spark_entry__ as entry

    from cdc_spark.queries.fingerprint import all_fingerprints

    path = os.path.join(
        os.path.dirname(__file__), "registry_fingerprints.json"
    )
    with open(path) as f:
        ledger = json.load(f)
    current = all_fingerprints()
    assert set(ledger) == set(current), (
        "ledger/registry entry sets diverge — run "
        "tools/update_fingerprints.py after adding/removing entries"
    )
    staged = set(entry.GATE_PREFIX) | set(entry.NEXT_TIER)
    drifted = sorted(
        n for n in current if ledger[n] != current[n] and n not in staged
    )
    assert not drifted, (
        "plan or oracle changed after these entries were last staged "
        "for a driver gate — add them to GATE_PREFIX/NEXT_TIER and "
        f"refresh the ledger (tools/update_fingerprints.py): {drifted}"
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


# --- plan-BUILD-time guardrail (r11 verdict item 4) -----------------
#
# Three rounds produced the same defect class three times (pq_encode
# r7, ivf_assign r8, lsh_bucket r11): a Column tree composed from
# thousands of F.lit calls costs one py4j round trip PER LITERAL at
# plan-build time — ~200 s of pure driver time at the sized shapes,
# invisible to correctness gates because the result is still right.
# This guardrail times DataFrame CONSTRUCTION (fn call, no action)
# for every registry entry and fails past a budget, so the next
# instance dies in-repo instead of at an sf10 probe.

# Construction budget for entries whose fn only BUILDS a plan (a few
# py4j calls + optional sizing count() jobs at sf0.001): measured
# max 2.4 s across all 251 lazy entries on a warm session on the
# round-12 box; the round-13 box is ~2x slower (warm max ~5 s under a
# full-suite session — cdc30). On a later 4-core box py4j got faster:
# the 10 k-literal storm of the red test below built in 7.7–8.5 s, so
# a 10 s budget no longer caught it, while the slowest lazy entry
# built in 3.3 s (cdc30, cold). 6 s keeps the storm over budget there
# and leaves ~1.2x headroom over the round-13 box's warm max.
BUILD_BUDGET_SEC = 6.0

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


def test_plan_build_time_bounded(spark):
    """Every non-exempt entry must CONSTRUCT its DataFrame within the
    budget at sf0.001 — new entries are guarded by default (an entry
    must be explicitly exempted, with a structural reason, to skip).

    An entry that measures over budget is re-timed once and graded on
    the min: the defect class being guarded (one py4j round trip PER
    LITERAL) costs the same on every rebuild, while the benign
    over-budget cause observed in practice — first-call JVM classload
    and JIT of an entry family's operators on a cold or slower box
    (cdc24 measured 7.8 s cold / 2.7 s warm on the round-13 box) —
    vanishes on the retry. A storm therefore still fails; box noise
    does not tighten or loosen the guardrail."""
    import time

    sf = "/root/testdata/sf0.001"
    # absorb first-call session warm-up outside any entry's timing
    REGISTRY["q01_pricing_summary"].fn(spark, sf)
    violations = []
    for name, spec in sorted(REGISTRY.items()):
        if name in EAGER_BUILD or "streaming" in spec.tags:
            continue
        t0 = time.monotonic()
        spec.fn(spark, sf)
        dt = time.monotonic() - t0
        if dt > BUILD_BUDGET_SEC:
            # warm retry — classload/JIT noise is one-shot, a
            # literal storm is not
            t0 = time.monotonic()
            spec.fn(spark, sf)
            dt = min(dt, time.monotonic() - t0)
        if dt > BUILD_BUDGET_SEC:
            violations.append(f"{name}: {dt:.1f}s")
    assert not violations, (
        "plan construction over budget (literal storm? driver-side "
        f"loop?): {violations}"
    )


def test_guardrail_catches_literal_storm(spark):
    """RED case: a 10k-literal Column tree (the pq_encode/ivf_assign/
    lsh_bucket disease) must measure ABOVE the budget, proving the
    timing harness detects the class it exists for. (The cure is one
    parsed SQL literal — lsh_bucket's array form builds in
    milliseconds.)

    Classic-py4j only: the cost being demonstrated IS the per-literal
    py4j round trip. Under Spark Connect, Column trees build
    client-side with no bridge round trips, the storm measures near
    zero, and this red test would fail spuriously — and its
    prescribed fix (lower BUILD_BUDGET_SEC) would tighten the main
    guardrail against unrelated entries (r12 ADVICE)."""
    import time

    import pytest
    from pyspark.sql import functions as F

    if not hasattr(spark, "sparkContext"):
        pytest.skip(
            "Spark Connect session: literals build client-side, the "
            "py4j round-trip cost this red test demonstrates does not "
            "exist there"
        )

    t0 = time.monotonic()
    col = F.lit(0.0)
    for i in range(10_000):
        col = col + F.lit(float(i))
    dt = time.monotonic() - t0
    assert dt > BUILD_BUDGET_SEC, (
        f"10k-literal tree built in {dt:.1f}s — if py4j got this "
        "fast, lower BUILD_BUDGET_SEC to keep the guardrail binding"
    )

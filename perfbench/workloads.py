"""The benchmark's workloads. Each drives the engine's public API only.

A workload function gets a live session, a tracer (a no-op one in the
untraced run), its private work directory, the seed and the measured
duration, and returns a :class:`Outcome`. Set-up work (input
generation, seeding, warm-up) happens before the timed region; every
correctness check happens after it.
"""

from __future__ import annotations

import importlib.util
import os
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.reference import (
    aggregate,
    fold,
    mismatched_keys,
    percentile,
    typed_rows,
)

# the repo root: the engine and tools/check_oracle.py live there
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# cdc_tail: the binary backfill that seeds the state (closed loop, one
# caller), then the JSON tail (open loop at TAIL_RATE changes/s). The
# first slice is an untimed warm-up through the same path; the second,
# timed one carries the migration
BACKFILL_SLICES = [1_000, 6_000]
MIGRATE_AT = 1
TAIL_RATE = 200.0
MAX_WARM_S = 90.0  # tail generated for this much warm-up before the window
N_BUCKETS = 16

# analytics: read-only headline entries (no state writes), run in
# whole passes with a noop sink
QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_revenue_filter",
    "q14_window_topk",
    "q25_asof_join",
    "q46_nation_trade_volume",
    "q63_sole_late_supplier",
    "cdc02_events_merge",
    "cdc03_snapshot_diff",
    "cdc04_log_compaction",
    "cdc12_scd2_history",
    "dd03_minhash_lsh",
    "ss01_cosine_topk",
    "tx05_fingerprint",
    "q112_cms_heavy_hitters",
]


@dataclass
class Outcome:
    setup_s: float  # workload set-up after the session exists
    metrics: dict[str, dict]  # end-to-end: name -> {"value", "unit", "n"}
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    layers: dict[str, dict] = field(default_factory=dict)  # traced only


def _metric(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _pct(values: list[float], q: float, unit: str) -> dict:
    p = percentile(values, q)
    return _metric(p["value"], unit, p["n"])


def failed_ops(bad_keys: set[int], last_op: dict[int, int]) -> set[int]:
    """Operations blamed for wrong keys: the one that applied each
    key's last change (-1 for a key no operation ever wrote)."""
    return {last_op.get(k, -1) for k in bad_keys}


# --- state-layer file accounting (read from disk after the run) ------------

def version_files(table_path: str, first_version: int) -> dict[int, tuple[int, int]]:
    """Data files and bytes written per state version >= first_version."""
    out = {}
    for name in os.listdir(table_path):
        if not (name.startswith("v") and name[1:].isdigit()):
            continue
        v = int(name[1:])
        if v < first_version:
            continue
        files = size = 0
        for root, _, names in os.walk(os.path.join(table_path, name)):
            for n in names:
                if not n.startswith(("_", ".")) and n != "MANIFEST.json":
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        out[v] = (files, size)
    return out


# --- cdc_tail ---------------------------------------------------------------

def cdc_tail(spark, tracer, work: str, seed: int, seconds: float) -> Outcome:
    from pyspark.sql import functions as F

    import cdc_spark.cdc.pgoutput_wire as W
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    t_setup = time.time()
    slices = gen.backfill_slices(seed, BACKFILL_SLICES, migrate_at=MIGRATE_AT)
    backfilled = [c for s in slices for c in s.changes]
    # one open-loop tail; its first batch is the warm-up, and the changes
    # due in the `seconds` after that batch returns are the measured ones
    tail = gen.tail_log(
        seed,
        sorted(fold(backfilled)),
        first_lsn=slices[-1].rows[-1][0] + 1,
        first_new_key=max(c.key for c in backfilled) + 1,
        rate=TAIL_RATE,
        seconds=MAX_WARM_S + seconds,
    )
    registry = SchemaRegistry()
    pipe = CdcStreamPipeline(
        spark,
        registry,
        gen.SCHEMA,
        gen.TABLE,
        keys=gen.KEYS,
        payload=gen.PAYLOAD,
        state_path=os.path.join(work, "rows"),
        dialect="pgoutput_json",
        n_buckets=N_BUCKETS,
    )
    last_op: dict[int, int] = {}
    op = 0
    problems = []
    raised: set[int] = set()  # operations that raised: failed ops
    backfill_s = []
    timed_changes = 0
    for n, sl in enumerate(slices):
        with tracer.span("warm_slice" if n == 0 else "backfill_slice", op=True):
            t0 = time.time()
            try:
                raw = spark.createDataFrame(
                    [(o, bytearray(f)) for o, f in sl.rows], "ord long, value binary"
                )
                W.announce_to_registry(registry, W.decode_frames(raw, order_col="ord"))
                with warnings.catch_warnings():
                    # one replication slot is one total order: the global
                    # fill-forward window is the intended plan
                    warnings.simplefilter("ignore", RuntimeWarning)
                    changes = W.parse_pgoutput_binary(raw, order_col="ord")
                typed = registry.materialize(changes, gen.SCHEMA, gen.TABLE)
                # the columns announced so far (the migration adds one)
                pipe.state.apply(typed, [c for c in gen.PAYLOAD if c in typed.columns])
                if n > 0:
                    backfill_s.append(time.time() - t0)
                    timed_changes += len(sl.changes)
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                raised.add(op)
                problems.append(f"backfill slice {op}: {type(e).__name__}: {e}"[:200])
        for c in sl.changes:
            last_op[c.key] = op
        op += 1
    agg = pipe.attach_aggregate(
        os.path.join(work, "agg"), ["seg"], {"bal_sum": F.col("bal")}
    )

    # open loop: each micro-batch admits every change whose due time has
    # passed. The first batch also makes the aggregate adopt the
    # backfilled state (a one-time full aggregation); set-up ends when it
    # returns, and the timed region starts there
    commit_s: list[float] = []
    lag_s: list[float] = []
    t0 = time.time()
    start = end = None  # the measured window of due times
    i = 0
    while i < len(tail) and (end is None or tail[i].due_s < end):
        now = time.time() - t0
        if tail[i].due_s > now:
            time.sleep(tail[i].due_s - now)
            continue
        j = i
        while j < len(tail) and tail[j].due_s <= now and (
            end is None or tail[j].due_s < end
        ):
            j += 1
        batch = tail[i:j]
        with tracer.span("warm_batch" if start is None else "tail_batch", op=True):
            tb = time.time()
            try:
                raw = spark.createDataFrame([(t.doc,) for t in batch], "value string")
                pipe.apply_batch(raw, epoch_id=op)
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                raised.add(op)
                problems.append(f"tail batch {op}: {type(e).__name__}: {e}"[:200])
            te = time.time()
        for t in batch:
            last_op[t.change.key] = op
        op += 1
        i = j
        if start is None:
            n_warm = j
            v_rows0 = pipe.state.current_version() + 1
            v_agg0 = agg.table.current_version() + 1
            setup_s = time.time() - t_setup
            start = time.time() - t0
            end = min(start + seconds, MAX_WARM_S + seconds)
            continue
        commit_s.append(te - tb)
        lag_s.extend(te - t0 - t.due_s for t in batch if t.due_s >= start)
    applied = [t.change for t in tail[:i]]

    # correctness: engine state and aggregate against the reference fold
    expected = fold(backfilled + applied)
    rows = pipe.state.read().toPandas()
    # the added column is missing if the migration never reached the registry
    actual = {
        int(r.id): (r.seg, float(r.bal), getattr(r, "phone_number", None))
        for r in rows.itertuples(index=False)
    }
    bad = mismatched_keys(typed_rows(expected, gen.PAYLOAD), actual)
    blamed = failed_ops(bad, last_op) | raised
    if bad:
        problems.append(f"{len(bad)} keys differ from the reference fold")
    want_agg = aggregate(expected)
    got_agg = {
        r.seg: (int(r.n_rows), float(r.bal_sum))
        for r in agg.read().toPandas().itertuples(index=False)
    }
    agg_ok = want_agg.keys() == got_agg.keys() and all(
        want_agg[s][0] == got_agg[s][0]
        and abs(want_agg[s][1] - got_agg[s][1]) <= 1e-6 * max(1.0, abs(want_agg[s][1]))
        for s in want_agg
    )
    if not agg_ok:
        problems.append("aggregate differs from the reference fold")
        if not bad:  # wrong rows already explain a wrong aggregate
            blamed.add(op - 1)

    changes_per_s = _metric(
        timed_changes / sum(backfill_s) if backfill_s else 0.0, "1/s", len(backfill_s)
    )
    written = version_files(pipe.state.path, v_rows0)
    agg_written = version_files(agg.table.path, v_agg0)
    w_bytes = sum(b for _, b in written.values()) + sum(
        b for _, b in agg_written.values()
    )
    metrics = {
        # per operation: the median wall time of a timed micro-batch's
        # apply. Lag adds to it the wait for the batch before, which in a
        # short window depends on where the batch boundaries fall, so lag
        # is printed but not bounded
        "op_latency_s": _pct(commit_s, 50, "s"),
        "throughput_per_s": changes_per_s,
        # the same figures under their own names, and ones that are
        # printed only, not among BENCHMARK.json's end-to-end metrics
        "lag_p50_s": _pct(lag_s, 50, "s"),
        "lag_p90_s": _pct(lag_s, 90, "s"),
        "commit_p50_s": _pct(commit_s, 50, "s"),
        "changes_per_s": changes_per_s,
        "batch_changes": _metric(
            timed_changes / max(len(backfill_s), 1), "count", len(backfill_s)
        ),
        "write_bytes_per_change": _metric(
            w_bytes / (len(applied) - n_warm), "B", len(applied) - n_warm
        ),
        "state_files": _metric(
            len(pipe.state.read().inputFiles()) + len(agg.table.read().inputFiles()),
            "count",
            1,
        ),
    }
    out = Outcome(setup_s, metrics, op, len(blamed), problems)
    if tracer.enabled:
        # one row-state and one aggregate version per tail batch
        per_batch = [
            (a[0] + b[0], a[1] + b[1])
            for a, b in zip(
                (written[v] for v in sorted(written)),
                (agg_written[v] for v in sorted(agg_written)),
            )
        ]
        out.layers = {
            "streaming.state.files_written": _pct([f for f, _ in per_batch], 50, "count"),
            "streaming.state.bytes_written": _pct([b for _, b in per_batch], 50, "B"),
            "streaming.state.write_bytes_per_change": metrics["write_bytes_per_change"],
            "streaming.state.read_files": metrics["state_files"],
        }
    return out


# --- analytics --------------------------------------------------------------

def _load_value_hash(root: str):
    """The order-insensitive value hash of the repo's oracle gate."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def analytics(spark, tracer, work: str, seed: int, seconds: float) -> Outcome:
    import duckdb

    from cdc_spark.catalog import TABLES, table_path
    from cdc_spark.queries import REGISTRY

    t_setup = time.time()
    sf_dir = os.path.join(work, "tables")
    gen.write_analytics_tables(seed, sf_dir)
    # warm-up pass, one query per core at a time (no operation span is
    # open, so nothing of it is reported); its collected results are
    # what the oracle check grades, after the timed region
    results = {}
    errors: dict[str, str] = {}

    def warm(name: str) -> None:
        try:
            results[name] = REGISTRY[name].fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — fails the query's ops
            errors[name] = f"{type(e).__name__}: {e}"[:200]

    with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
        list(pool.map(warm, QUERIES))
    setup_s = time.time() - t_setup

    lat: list[float] = []
    executions: dict[str, int] = {}
    t0 = time.time()
    while time.time() - t0 < seconds:
        for name in QUERIES:
            fn = REGISTRY[name].fn
            with tracer.span("query", op=True):
                tq = time.time()
                try:
                    with tracer.span("queries.build"):
                        df = fn(spark, sf_dir)
                    with tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    errors[name] = f"{type(e).__name__}: {e}"[:200]
                lat.append(time.time() - tq)
            executions[name] = executions.get(name, 0) + 1
    wall = time.time() - t0

    value_hash = _load_value_hash(ROOT)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'tmp')}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    wrong = set(errors)
    problems = [f"{n}: {e}" for n, e in errors.items()]
    for name in results:
        got, want = results[name], con.sql(REGISTRY[name].oracle).df()
        if (
            len(got) != len(want)
            or sorted(got.columns) != sorted(want.columns)
            or value_hash(got) != value_hash(want)
        ):
            wrong.add(name)
            problems.append(f"{name}: result differs from the DuckDB oracle")
    con.close()
    attempted = len(lat)
    metrics = {
        # per operation: the mean over whole passes, so every query of the
        # mix weighs the same; the median of 16 different queries jumps
        # between neighbours whose latencies differ by a third
        "op_latency_s": _metric(sum(lat) / attempted, "s", attempted),
        "throughput_per_s": _metric(attempted / wall, "1/s", attempted),
        "query_p50_s": _pct(lat, 50, "s"),
        "query_p90_s": _pct(lat, 90, "s"),
    }
    failed = sum(executions.get(n, 0) for n in wrong)
    return Outcome(setup_s, metrics, attempted, failed, problems)


WORKLOADS = {"cdc_tail": cdc_tail, "analytics": analytics}

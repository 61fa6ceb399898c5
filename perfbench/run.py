"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Every metric is printed on its own line with its unit and sample
count; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The metric names and their units come from ``BENCHMARK.json``.

The run uses ``local[nproc]``, keeps every file it writes under
``.perfbench_work/`` in the checkout, stops the Spark JVM it started
and waits for it to exit. ``--trace 1`` additionally writes its spans
to ``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# spans around the engine's public entry points; each name is also the
# prefix of its per-layer metrics (<name>_s self time, <name>_jobs ...).
# The functions are wrapped only in the traced run.
LAYERS = (
    "catalog.load_table",
    "queries.build",
    "queries.action",
    "cdc.envelope.parse",
    "cdc.registry.materialize",
    "cdc.merge.apply_changes",
    "streaming.ivm_sink.apply",
    "streaming.state.apply",
    "streaming.pipeline.apply_batch",
    "cdc.pgoutput_wire.parse",
    "cdc.pgoutput_wire.announce",
)
# operations whose layer figures each workload reports: its timed ops,
# and for cdc_tail also the backfill slices of its set-up, reported
# under a "backfill." prefix
TIMED_OPS = {"cdc_tail": {"tail_batch"}, "analytics": {"query"}}
SETUP_OPS = {"cdc_tail": {"backfill_slice"}}


def install_layers(tracer) -> None:
    import cdc_spark.catalog as catalog
    import cdc_spark.cdc.envelope as envelope
    import cdc_spark.cdc.merge as merge
    import cdc_spark.cdc.pgoutput_wire as wire
    import cdc_spark.queries  # noqa: F401 — bind load_table call sites first
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.ivm_sink import IncrementalAggregate
    from cdc_spark.streaming.pipeline import CdcStreamPipeline
    from cdc_spark.streaming.state import BucketedStateTable

    tracer.patch(catalog, "load_table", "catalog.load_table")
    tracer.patch(envelope, "parse_pgoutput_json", "cdc.envelope.parse")
    tracer.patch(SchemaRegistry, "materialize", "cdc.registry.materialize")
    tracer.patch(merge, "apply_changes", "cdc.merge.apply_changes")
    tracer.patch(IncrementalAggregate, "apply", "streaming.ivm_sink.apply")
    tracer.patch(BucketedStateTable, "apply", "streaming.state.apply")
    tracer.patch(CdcStreamPipeline, "apply_batch", "streaming.pipeline.apply_batch")
    tracer.patch(wire, "parse_pgoutput_binary", "cdc.pgoutput_wire.parse")
    tracer.patch(wire, "announce_to_registry", "cdc.pgoutput_wire.announce")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def layer_metrics(tracer, workload: str, session_s: float) -> dict[str, dict]:
    from perfbench.tracer import layer_report

    jobs, stages = tracer.spark_jobs()
    out = layer_report(
        tracer.spans, jobs, stages, TIMED_OPS[workload], LAYERS
    )
    if workload in SETUP_OPS:
        setup = layer_report(
            tracer.spans, jobs, stages, SETUP_OPS[workload], LAYERS
        )
        for name, m in setup.items():
            if name.startswith("spark."):
                out[f"backfill.{name}"] = m
            elif name not in out:
                out[name] = m
    out["session.get_spark_s"] = {"value": session_s, "n": 1}
    return out


def stop_spark(spark) -> None:
    """Stop the context, close the py4j gateway and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def fix_hash_seed() -> None:
    """Re-execute this script under a fixed ``PYTHONHASHSEED``.

    PySpark already fixes the hash seed of its Python workers; this
    fixes this process's too, so string-keyed sets iterate in the same
    order in every run. With per-process randomization, about one
    ``cdc_tail`` run in three on a 4-core VM took 20-30 % longer in set-up
    and in the timed region alike. ``exec`` replaces the process, so
    there is still one process to stop."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = declared_metrics()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # before the JVM and the engine start: one thread per core, the repo
    # on the Python workers' path, every temporary file inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    )

    t0 = time.time()
    from cdc_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xms2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t0

    from perfbench.tracer import NullTracer, Tracer

    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    try:
        if args.trace:
            install_layers(tracer)
        out = WORKLOADS[args.workload](
            spark, tracer, work, args.seed, args.seconds
        )
        if args.trace:
            tracer.close()
            layers = layer_metrics(tracer, args.workload, session_s)
            layers.update(out.layers)
            op_s = sum(s.end - s.start for s in tracer.spans if s.op == s.id)
            layers["trace_overhead_pct"] = {
                "value": 100.0 * tracer.overhead_s / op_s,
                "n": 1,
            }
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + out.setup_s
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g}")
    print(f"metric setup_s = {setup_s:.4f} s (n=1)")
    for name, m in out.metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    ratio = out.failed / out.attempted
    print(f"metric failed_op_ratio = {ratio:.6g} ({out.failed}/{out.attempted})")
    for p in out.problems:
        print(f"problem {p}")
    if args.trace:
        for name in sorted(layers):
            m = layers[name]
            print(f"layer {name} = {m['value']:.6g} (n={m['n']})")
        values = {n: layers.get(n, {"value": 0})["value"] for n in layer_units}
        units = layer_units
    else:
        values = {
            n: setup_s if n == "setup_s" else out.metrics[n]["value"]
            for n in e2e_units
        }
        units = e2e_units
    result = {
        "correct": out.failed == 0 and not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    fix_hash_seed()
    raise SystemExit(main())

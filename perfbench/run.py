"""Benchmark of the pharma-analytics engine.  Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One process, one client thread, ``local[4]`` (``SPARK_GRAFT_CPUS=4``).  The
run generates its inputs from ``--seed`` (``gen.py``), starts the session,
runs the workload's set-up and then its timed region for ``--seconds``,
checks every output after the timed region, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every other operation
of the timed region is traced (spans, py4j counts, Catalyst phases, an
uncompressed Spark event log) and the metrics are the per-layer ones, the
tracing overhead of the traced operations against the untraced ones among
them.  ``BENCHMARK.json``
lists the metrics reported; README.md defines them.

All writes go to a fresh directory under ``.perfbench/`` that the run
deletes; ``.perfbench/`` keeps each run's detail record and, for traced
runs, the span artifact.  Any failed operation or check is printed with
its name and makes the run exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

CPUS = 4
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """The program's own session factory, with every path it writes
    pointed into ``work``."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark import (
        get_spark,
    )

    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        # the driver heap at its maximum from the start: a heap that grows
        # when GC time runs high grows further on a slower host, and
        # peak_rss_mb would follow the host, not the program
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM pyspark launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"program not found under {root}: {exc}", file=sys.stderr)
        return 2
    import gen
    import metrics
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    setup, timed, check = workloads.WORKLOADS[args.workload]

    out_dir = os.path.join(root, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=out_dir)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_CACHE": "1",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # every JVM pyspark starts (the launcher too): temp files into
        # ``work``, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    tempfile.tempdir = None
    spark = None
    try:
        data = os.path.join(work, "inputs")
        digest = gen.write_inputs(data, args.seed, lake=args.workload == "lake_ingest")

        tracer = spans.Tracer(bool(args.trace))
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        ctx = workloads.Ctx(spark, tracer, root, data, work, args.seed, args.seconds, digest)
        state = setup(ctx)
        setup_s = time.perf_counter() - t0
        tracer.set_active(False)
        ctx.alternate = bool(args.trace)
        first_timed_op = tracer._next_op
        run = timed(ctx, state)
        ctx.alternate = False
        tracer.set_active(False)
        try:
            check(ctx, state)
        except Exception:  # noqa: BLE001 - a check that cannot run has failed
            ctx.fail(f"check:{args.workload}", traceback.format_exc())

        record = metrics.end_to_end(run, setup_s)
        record.update(workload=args.workload, seed=args.seed, inputs_sha256=digest,
                      session_s=session_s)
        if args.workload == "lake_ingest":
            record.update(metrics.lake(run, state))
        driver_mb, jvm_mb = spans.peak_rss_mb(spark)
        record["peak_rss_mb"] = driver_mb + jvm_mb
        layer = None
        if args.trace:
            layer = metrics.layer_inputs(ctx, state, first_timed_op,
                                         session_s, driver_mb, jvm_mb)
        stop_session(spark)
        spark = None
        if args.trace:
            per_layer = metrics.per_layer(layer, spans.engine_by_op(os.path.join(work, "events")),
                                          CPUS)
            metrics.check_attribution(ctx, layer)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    record.update(attempted=ctx.attempted, failed=len(ctx.failures), failures=ctx.failures,
                  error_rate=len(ctx.failures) / max(ctx.attempted, 1))
    name = f"{args.workload}-seed{args.seed}"
    if args.trace:
        metrics.write_trace(out_dir, name, layer, per_layer, record)
        shown = per_layer
    else:
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        shown = record
    units = declared_metrics(root, "per_layer" if args.trace else "end_to_end")
    print(json.dumps({k: v for k, v in record.items()
                      if k not in units and k != "latencies_s"}, sort_keys=True))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }))
    return 1 if ctx.failures else 0


def declared_metrics(root: str, kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    ``BENCHMARK.json`` declares."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())

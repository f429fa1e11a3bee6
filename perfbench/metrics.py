"""Metric definitions and their computation from a run's measurements.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced operations of a traced run.  The names and units reported are the
ones ``BENCHMARK.json`` lists; the functions here compute a superset.  A
"pass" is a workload's unit of work: a ``dashboard`` request, a
``lake_ingest`` write with the reads that follow it, one ``ml_train``
notebook.  A layer that a workload does not enter reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import self_times

_MB = 1024 * 1024

#: Span name -> per-layer metric: mean self seconds per call.
CALL_SPANS = {
    "operators.build": "operators.build_s",
    "pipeline.parse": "pipeline.parse_s",
    "deltaproto.append": "deltaproto.append_s",
    "deltaproto.merge": "deltaproto.merge_s",
    "deltaproto.delete": "deltaproto.delete_s",
    "deltaproto.checkpoint": "deltaproto.checkpoint_s",
    "deltaproto.snapshot": "deltaproto.snapshot_s",
    "deltaproto.scan": "deltaproto.scan_s",
    "ml.prepare": "ml.prepare_s",
    "ml.train": "ml.train_s",
    "ml.save": "ml.save_s",
    "ml.load": "ml.load_s",
    "ml.score": "ml.score_s",
}

#: Event-log sums, reported per traced operation.
ENGINE = {
    "jobs": "count", "stages": "count", "tasks": "count", "sched_delay_ms": "ms",
    "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}

def quantile(values: list[float], pct: int) -> float:
    """Linear-interpolated percentile (``statistics.quantiles``, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


#: Percentile reported as ``op_tail_s``.  A run has 13-30 operations, too
#: few for a percentile with ten samples beyond it; p90 of so few flips
#: between operation kinds (a merge is ~10 % of ``lake_ingest``'s) and
#: spread 0.43 across seeds where p75 spread 0.06.  The record states the
#: sample count and how many samples lie beyond.
TAIL_PCT = 75


def _tail(values: list[float]) -> dict:
    return {
        "value": quantile(values, TAIL_PCT),
        "pct": TAIL_PCT,
        "n": len(values),
        "beyond": sum(1 for v in values if v > quantile(values, TAIL_PCT)),
    }


def end_to_end(run, setup_s: float) -> dict:
    lat = run.latencies or [float("nan")]
    tail = _tail(lat)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail["value"],
        "op_tail": tail,
        "wall_s": run.wall / run.passes,
        "timed_wall_s": run.wall,
        "passes": run.passes,
        "latencies_s": run.latencies,
    }


def lake(run, state: dict) -> dict:
    """``lake_ingest``'s own end-to-end figures: write and read latency
    split, and bytes on disk per byte of cleaned rows written."""
    from workloads import table_files

    files = table_files(state["table"])
    out = {"write_amp": files["bytes"] / max(state["model"].user_bytes, 1)}
    for kind in ("write", "read"):
        lat = run.extra[f"{kind}_s"] or [float("nan")]
        out[f"{kind}_p50_s"] = statistics.median(lat)
        out[f"{kind}_tail_s"] = _tail(lat)["value"]
        out[f"{kind}_tail"] = _tail(lat)
    return out


def layer_inputs(ctx, state, first_op: int, session_s: float,
                 driver_mb: float, jvm_mb: float) -> dict:
    """What per-layer metrics need while the session is still up."""
    from workloads import cached_mb, table_files

    tracer = ctx.tracer
    return {
        "spans": tracer.spans,
        "phases": tracer.phases,
        "hook_s": tracer.hook_s,
        "call_s": tracer.call_s,
        "first_op": first_op,
        "paired": ctx.paired,
        "writes": state.get("writes", 0),
        "session_s": session_s,
        "cached_mb": cached_mb(ctx.spark),
        "table": table_files(state["table"]) if "table" in state else None,
        "user_bytes": state["model"].user_bytes if "model" in state else 0,
        "driver_mb": driver_mb,
        "jvm_mb": jvm_mb,
    }


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(layer: dict, engine: dict, cpus: int) -> dict:
    spans, first = layer["spans"], layer["first_op"]
    selfs = self_times(spans)
    timed = [s for s in spans if s["op"] >= first]
    out = {"session.start_s": layer["session_s"]}
    out["catalog.fill_s"] = sum(
        selfs[s["id"]] for s in spans if s["name"] == "catalog.fill")
    out["catalog.cached_mb"] = layer["cached_mb"]
    for name, metric in CALL_SPANS.items():
        out[metric] = _mean(selfs[s["id"]] for s in timed if s["name"] == name)
    out["operators.py4j_calls"] = _mean(
        s["py4j"] for s in timed if s["name"] == "operators.build")
    phases = [p for p in layer["phases"] if p["op"] >= first]
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = _mean(p[phase] for p in phases)
    roots = [s for s in timed if s["parent"] is None]
    ops = {s["op"] for s in roots}
    n_ops = max(len(ops), 1)
    for key in ENGINE:
        out[f"engine.{key}"] = sum(engine.get(op, {}).get(key, 0) for op in ops) / n_ops
    run_ms = sum(engine.get(op, {}).get("run_ms", 0) for op in ops)
    traced_wall = sum(s["t1"] - s["t0"] for s in roots)
    out["engine.core_busy"] = run_ms / (max(traced_wall, 1e-9) * 1000 * cpus)
    out["arrow.python_mb"] = sum(
        engine.get(op, {}).get("python_mb", 0) for op in ops) / n_ops
    table = layer["table"] or dict.fromkeys(
        ("removes", "log_files", "log_bytes", "data_files", "bytes"), 0)
    out["deltaproto.files_rewritten"] = table["removes"] / max(layer["writes"], 1)
    out["deltaproto.log_files"] = table["log_files"]
    out["deltaproto.log_mb"] = table["log_bytes"] / _MB
    out["deltaproto.data_files"] = table["data_files"]
    out["deltaproto.table_mb"] = table["bytes"] / _MB
    out["deltaproto.write_amp"] = table["bytes"] / max(layer["user_bytes"], 1)
    out["proc.driver_rss_mb"] = layer["driver_mb"]
    out["proc.jvm_rss_mb"] = layer["jvm_mb"]
    out.update(overhead(layer["paired"]))
    return out


def overhead(paired: list[tuple[str, bool, float]]) -> dict:
    """Tracing overhead, in %, from the traced/untraced pairs of alike
    operations (the same request or read twice, or two notebook passes):
    the median of the pairs' traced / untraced latency ratios, and the
    ratio of their summed latencies."""
    by_key: dict[str, dict[bool, list[float]]] = {}
    for key, traced, lat in paired:
        by_key.setdefault(key, {True: [], False: []})[traced].append(lat)
    pairs = [p for lats in by_key.values() for p in zip(lats[True], lats[False])]
    if not pairs:
        raise ValueError("no traced/untraced pair of operations to compare")
    return {
        "trace.overhead_pct": 100 * (statistics.median(on / off for on, off in pairs) - 1),
        "trace.overhead_wall_pct": 100 * (sum(on for on, _ in pairs)
                                          / sum(off for _, off in pairs) - 1),
        "trace.pairs": len(pairs),
    }


#: Seconds an op's time outside every layer span may exceed the tracer's
#: own time in that op before the attribution check fails.
ATTRIBUTION_SLACK_S = 0.002


def attribution(layer: dict) -> list[dict]:
    """Per traced op: wall, layer self times, tracer time (hooks and the
    py4j wrapper) and the unattributed rest."""
    spans = layer["spans"]
    selfs = self_times(spans)
    ops: dict[int, dict] = {}
    for s in spans:
        if s["op"] < layer["first_op"]:
            continue
        rec = ops.setdefault(s["op"], {"op": s["op"], "layers": {}})
        if s["parent"] is None:
            rec.update(name=s["kind"], wall_s=s["t1"] - s["t0"],
                       unattributed_s=selfs[s["id"]],
                       tracer_s=layer["hook_s"].get(s["op"], 0.0))
        else:
            rec["layers"][s["name"]] = rec["layers"].get(s["name"], 0.0) + selfs[s["id"]]
    return list(ops.values())


def check_attribution(ctx, layer: dict) -> None:
    """Each op's layer self times must sum to its wall time within the
    tracer's own time in that op: every call into the program must sit in
    a layer span."""
    for rec in attribution(layer):
        gap = rec["wall_s"] - sum(rec["layers"].values())
        ctx.check(f"attribution:op-{rec['op']}",
                  gap <= rec["tracer_s"] + ATTRIBUTION_SLACK_S,
                  f"{gap:.4f}s of {rec['wall_s']:.4f}s not in any layer span "
                  f"(tracer {rec['tracer_s']:.4f}s)")


def write_trace(out_dir: str, name: str, layer: dict, per_layer_metrics: dict,
                record: dict) -> None:
    """The traced run's artifact: spans, Catalyst phases, per-op
    attribution, per-layer metrics, the traced/untraced latencies behind
    the overhead, the overhead against an untraced run, and the tracer's
    own time as a share of the traced ops' wall."""
    first = layer["first_op"]
    tracer_s = sum(v for op, v in layer["hook_s"].items() if op >= first)
    traced_wall = sum(r["wall_s"] for r in attribution(layer))
    # against an untraced run of the same workload and seed, when one left
    # its record: noisier (another process), but it includes the event log
    vs_run = None
    untraced = os.path.join(out_dir, f"{name}.json")
    traced_lat = [lat for _, traced, lat in layer["paired"] if traced]
    if os.path.exists(untraced) and traced_lat:
        with open(untraced) as f:
            base = json.load(f)
        vs_run = 100 * (statistics.median(traced_lat) / base["op_p50_s"] - 1)
    with open(os.path.join(out_dir, f"{name}-trace.json"), "w") as f:
        json.dump({
            "record": record,
            "paired_latencies": layer["paired"],
            "overhead_pct_vs_untraced_run": vs_run,
            "per_layer": per_layer_metrics,
            "tracer_share_of_wall": tracer_s / max(traced_wall, 1e-9),
            "py4j_wrapper_s_per_call": layer["call_s"],
            "attribution": attribution(layer),
            "phases": layer["phases"],
            "spans": layer["spans"],
        }, f, indent=1, sort_keys=True)

"""The benchmark's workloads.

Each workload has a ``setup`` (warm passes and buffer-pool fill, inside
``setup_s``), a ``timed`` closed loop with one client that runs for
``ctx.seconds`` (at least one pass, two on ``ml_train``), and a ``check``
that compares the outputs with an independent answer after the timed
region.  Every call
into the program sits in a ``ctx.tracer.span`` named after the layer it
enters; every operation goes through ``Ctx.op``, which counts it and turns
an exception into a recorded failure.

Why these workloads (the per-layer map is in README.md):

- ``dashboard``: the reference's 14 dashboard queries, as requests.  Up to
  half of a request is plan construction and job launch and executor work
  is tiny, so it exercises the driver-side layers; repeated queries let
  reuse show.
- ``lake_ingest``: the only workload that writes.  Reads go through the
  Delta log, not the ``catalog`` buffer pool, and grow with log length and
  file count, so a write-side gain that costs reads shows here.
- ``ml_train``: the reference ML notebook, the most expensive operation a
  user runs, and the only one in the ``ml`` layer.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen

PKG = "full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark"


@dataclass
class Ctx:
    spark: object
    tracer: object
    root: str  # checkout root
    data: str  # generated inputs (the program's sf_dir)
    work: str  # scratch space of this run, deleted at exit
    seed: int
    seconds: float
    digest: str  # sha256 of the generated inputs
    #: a traced run's timed region: ops run traced and untraced in turn
    #: (see ``op``); ``paired`` collects (key, traced, latency_s) of those
    alternate: bool = False
    paired: list[tuple[str, bool, float]] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, name: str, kind: str, fn, pair: str | None = None,
           repeatable: bool = False):
        """Run one operation; return (latency_s, result), or (None, None)
        after recording its failure.  With ``alternate``, a ``repeatable``
        one (it changes no state) runs twice, traced and untraced; ops with
        a ``pair`` key are alike and take turns; any other op is traced."""
        if self.alternate and repeatable:
            lat, out = self._op(name, kind, fn, kind)
            if lat is None:
                return lat, out
            return self._op(name, kind, fn, kind)
        return self._op(name, kind, fn, pair if self.alternate else None)

    def _op(self, name: str, kind: str, fn, key: str | None):
        self.attempted += 1
        traced = None
        if key is not None:
            traced = self._traced(key)
        elif self.alternate:
            self.tracer.set_active(True)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", kind):
                out = fn()
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            self.fail(name, traceback.format_exc())
            return None, None
        lat = time.perf_counter() - t0
        if traced is not None:
            self.paired.append((key, traced, lat))
        return lat, out

    def _traced(self, key: str) -> bool:
        """Switch the tracer for the next op of ``key``: the n-th pair of
        such ops runs traced-untraced for even n and untraced-traced for
        odd n, so a trend over the run (JIT warm-up, a growing table) falls
        on both sides alike."""
        n = sum(1 for k, _, _ in self.paired if k == key)
        traced = (n % 2 == 0) == ((n // 2) % 2 == 0)
        self.tracer.set_active(traced)
        return traced

    def fail(self, name: str, detail: str) -> None:
        self.failures.append(name)
        print(f"FAILED {name}: {detail.strip()}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one correctness check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"check:{name}", detail or "output differs")


@dataclass
class Timed:
    """What a timed region measured."""

    latencies: list[float]  # one per operation of op_p50_s / op_tail_s
    passes: float  # work units done; wall_s = wall / passes
    wall: float
    extra: dict = field(default_factory=dict)


def _collect(ctx: Ctx, df, layer: str):
    with ctx.tracer.span(layer):
        rows = df.collect()
    ctx.tracer.catalyst(df)
    return rows


def _oracle_norm(root: str):
    """``tools/check_oracle.py``'s row normalization, loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._rows_to_multiset


# -- dashboard ----------------------------------------------------------------

#: The reference dashboard as served by the program: the ``med_*`` entries
#: among the first 50 (oracle-checked) ``queries()`` entries, in the order
#: the program registers them (the reference notebook's query order, Q1
#: first), then the SQL front end's Query 2.  Popularity rank follows this
#: order; the Zipf(``ZIPF_S``) shape over it is assumed, not measured: the
#: reference publishes no request log.
DASHBOARD = [
    "med_q01_q07_overview",
    "med_q02_price_by_disease_area",
    "med_q03_top_manufacturers",
    "med_q04_q12_breakdowns",
    "med_q05_form_distribution",
    "med_q06_most_expensive",
    "med_q08_disease_coverage",
    "med_q09_manufacturer_size",
    "med_q10_top_generics",
    "med_q11_price_histogram",
    "med_q13_ml_dataset",
    "med_q14_class_balance",
    "med_ingest_clean",
    "med_refundable_by_class",
    "med_raw_price_order",
    "med_q02_sql_frontend",
]
ZIPF_S = 1.0


def zipf_sequence(seed: int, n: int) -> list[str]:
    """``n`` requests whose popularity follows Zipf(``ZIPF_S``) over
    ``DASHBOARD``'s rank order.  The seed sets the start of a golden-ratio
    low-discrepancy walk through the Zipf CDF, so every prefix of the
    sequence holds close to the Zipf mix and runs of different seeds see
    the same mix in a different order."""
    import random

    weights = [1 / (k + 1) ** ZIPF_S for k in range(len(DASHBOARD))]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    u = random.Random(f"zipf:{seed}").random()
    step = (math.sqrt(5) - 1) / 2
    out = []
    for _ in range(n):
        u = (u + step) % 1.0
        out.append(DASHBOARD[next((i for i, c in enumerate(cdf) if u < c), len(cdf) - 1)])
    return out


def _request(ctx: Ctx, queries: dict, name: str):
    with ctx.tracer.span("operators.build"):
        df = queries[name](ctx.spark, ctx.data)
    return df.columns, _collect(ctx, df, "engine.collect")


def dashboard_setup(ctx: Ctx) -> dict:
    import __spark_entry__ as entry

    queries = entry.queries()
    fill_buffer_pool(ctx)
    for name in DASHBOARD:  # warm pass: every query once
        ctx.op(f"warm:{name}", "warm", lambda n=name: _request(ctx, queries, n))
    return {"queries": queries}


def dashboard_timed(ctx: Ctx, state: dict) -> Timed:
    seq = zipf_sequence(ctx.seed, 100_000)
    responses, latencies = [], []
    t0 = time.perf_counter()
    for name in seq:
        if time.perf_counter() - t0 >= ctx.seconds:
            break
        lat, out = ctx.op(name, "request", lambda n=name: _request(ctx, state["queries"], n),
                          repeatable=True)
        if lat is not None:
            latencies.append(lat)
            responses.append((name, out))
    wall = time.perf_counter() - t0
    state["responses"] = responses
    return Timed(latencies, passes=len(latencies), wall=wall)


def dashboard_check(ctx: Ctx, state: dict) -> None:
    """Every response must equal DuckDB running the entry's
    ``oracle_sql()`` over the same generated ``part`` table."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    norm = _oracle_norm(ctx.root)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM read_parquet("
        f"'{os.path.join(ctx.data, 'part.parquet')}')"
    )
    expected = {}
    for name, (cols, rows) in state["responses"]:
        if name not in expected:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            expected[name] = (sorted(dcols), norm(dcols, res.fetchall()))
        dcols, drows = expected[name]
        got = norm(cols, [tuple(r) for r in rows])
        ctx.check(
            name,
            sorted(cols) == dcols and got == drows,
            f"{len(got)} rows vs {len(drows)} oracle rows",
        )
    con.close()


def fill_buffer_pool(ctx: Ctx) -> None:
    """Persist the ``part`` table in the ``catalog`` buffer pool
    (``SPARK_GRAFT_CACHE=1``) and materialize it."""
    from importlib import import_module

    load_table = import_module(f"{PKG}.sources").load_table
    with ctx.tracer.span("catalog.fill", "setup"):
        load_table(ctx.spark, ctx.data, "part").count()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


# -- lake_ingest ----------------------------------------------------------------

#: ``lake_ingest`` writes a checkpoint after every commit whose version is a
#: multiple of this.
CHECKPOINT_EVERY = 4
#: Every this many writes, a time-travel read of the version two back.
TIME_TRAVEL_EVERY = 3


def _lake_api():
    from importlib import import_module

    dp = import_module(f"{PKG}.sources.deltaproto")
    pipeline = import_module(f"{PKG}.pipeline")
    ingest = import_module(f"{PKG}.sources.json_ingest")
    q02 = import_module(f"{PKG}.operators.dashboard")._q02_agg
    return dp, pipeline, ingest, q02


def _lake_write(ctx: Ctx, table: str, kind: str, path: str) -> int:
    """One write of the sequence; returns the committed version."""
    dp, pipeline, ingest, _ = _lake_api()
    if kind == "delete":
        body = gen.read_op(path)
        with ctx.tracer.span("deltaproto.delete"):
            version = dp.delete_where_delta(ctx.spark, table, "name", body["lo"], body["hi"])
    else:
        with ctx.tracer.span("pipeline.parse"):
            raw = ingest.read_letter_keyed_json(ctx.spark, path)
            cleaned = pipeline.clean(pipeline.flatten_and_extract(raw))
        if kind == "append":
            with ctx.tracer.span("deltaproto.append"):
                version = dp.write_delta(cleaned, table)
        else:
            with ctx.tracer.span("deltaproto.merge"):
                version = dp.merge_upsert_delta(ctx.spark, cleaned, table, key="name")
    if version > 0 and version % CHECKPOINT_EVERY == 0:
        with ctx.tracer.span("deltaproto.checkpoint"):
            dp.write_delta_checkpoint(ctx.spark, table, version=version)
    return version


def _lake_read(ctx: Ctx, table: str, version: int | None):
    """The dashboard read over the lake: snapshot + Query 2 aggregate."""
    dp, _, _, q02 = _lake_api()
    with ctx.tracer.span("deltaproto.snapshot"):
        df = dp.read_delta(ctx.spark, table, version=version)
    with ctx.tracer.span("operators.build"):
        agg = q02(df, 1)
    return [tuple(r) for r in _collect(ctx, agg, "deltaproto.scan")]


def _lake_sequence(ctx: Ctx, table: str, files, seconds: float | None) -> dict:
    """Run writes (each followed by its reads) through ``files``, or, with
    ``seconds``, until that long has passed at the end of a write cycle,
    so every run does the same mix of writes."""
    model = gen.LakeModel()
    expected: dict[int, list] = {}
    reads, writes, write_lat, read_lat = [], 0, [], []
    t0 = time.perf_counter()
    for i, (kind, path) in enumerate(files):
        at_cycle_end = (i - 1) % gen.CYCLE_LEN == 0
        if seconds is not None and at_cycle_end and time.perf_counter() - t0 >= seconds:
            break
        lat, version = ctx.op(f"{kind}#{i}", "write", lambda: _lake_write(ctx, table, kind, path))
        if lat is None:
            break  # the table no longer follows the model
        write_lat.append(lat)
        writes += 1
        model.apply(kind, gen.read_op(path))
        expected[version] = model.q02()
        targets = [None]
        if writes % TIME_TRAVEL_EVERY == 0 and version >= 2:
            targets.append(version - 2)
        for target in targets:
            lat, rows = ctx.op(f"read@{target}", "read", lambda v=target: _lake_read(ctx, table, v),
                               repeatable=True)
            if lat is not None:
                read_lat.append(lat)
                reads.append((version if target is None else target, rows))
    return {
        "wall": time.perf_counter() - t0, "model": model, "expected": expected,
        "reads": reads, "writes": writes, "write_lat": write_lat, "read_lat": read_lat,
    }


def lake_setup(ctx: Ctx) -> dict:
    """Warm pass on a throwaway table: the sequence's first append, merge
    and delete (the third write also reads by time travel), then a
    checkpoint."""
    dp = _lake_api()[0]
    files = gen.lake_files(ctx.data)
    warm = [next(f for f in files if f[0] == k) for k in ("append", "merge", "delete")]
    table = os.path.join(ctx.work, "warm_table")
    with ctx.tracer.span("lake.warm", "setup"):
        _lake_sequence(ctx, table, warm, None)
        dp.write_delta_checkpoint(ctx.spark, table)
    return {"files": files}


def lake_timed(ctx: Ctx, state: dict) -> Timed:
    table = os.path.join(ctx.work, "medications")
    run = _lake_sequence(ctx, table, state["files"], ctx.seconds)
    state.update(run, table=table)
    # the operations of op_p50_s / op_tail_s are the dashboard reads: mixed
    # with the writes, whose latencies differ by up to 10x, the median and
    # tail of so few samples fall in the gap between the two kinds; the
    # writes count in wall_s and in write_p50_s / write_tail_s
    return Timed(run["read_lat"], passes=max(run["writes"], 1), wall=run["wall"], extra={
        "write_s": run["write_lat"], "read_s": run["read_lat"],
    })


def lake_check(ctx: Ctx, state: dict) -> None:
    """Every read, time travel included, must equal the model's Query 2 at
    that version; the final table must equal the model row for row."""
    dp, _, _, _ = _lake_api()
    for version, rows in state["reads"]:
        ctx.check(f"lake_read@v{version}", rows == state["expected"][version],
                  f"got {rows[:2]}... expected {state['expected'][version][:2]}...")
    final = dp.read_delta(ctx.spark, state["table"]).select(*gen.CLEAN_COLUMNS).collect()
    got = sorted(tuple(r) for r in final)
    want = sorted(state["model"].rows.values())
    ctx.check("lake_final_table", got == want, f"{len(got)} rows vs {len(want)} expected")


def table_files(table: str) -> dict:
    """Filesystem state of a Delta table: log and data files and bytes,
    and remove actions across all commits."""
    log = os.path.join(table, "_delta_log")
    out = {"log_files": 0, "log_bytes": 0, "data_files": 0, "bytes": 0, "removes": 0}
    for dirpath, _, names in os.walk(table):
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            out["bytes"] += size
            if dirpath.startswith(log):
                out["log_files"] += 1
                out["log_bytes"] += size
            elif n.endswith(".parquet"):
                out["data_files"] += 1
    for n in os.listdir(log):
        if n.endswith(".json") and n[:20].isdigit():
            with open(os.path.join(log, n)) as f:
                out["removes"] += sum(1 for line in f if line.startswith('{"remove"'))
    return out


# -- ml_train -------------------------------------------------------------------


def _ml():
    from importlib import import_module

    return import_module(f"{PKG}.ml.pipeline")


#: Timed notebook passes per run, at least; ``op_p50_s`` is their median.
ML_MIN_PASSES = 2


def ml_setup(ctx: Ctx) -> dict:
    """Buffer-pool fill and one warm notebook pass."""
    fill_buffer_pool(ctx)
    ctx.op("warm:ml_pass", "warm", lambda: _ml_pass(ctx, os.path.join(ctx.work, "model-warm")))
    return {}


def _ml_pass(ctx: Ctx, model_dir: str) -> dict:
    """The notebook: train (its own prepare, split, fit, evaluate), save,
    load, then score the full prepared dataset with the loaded model."""
    mp = _ml()
    with ctx.tracer.span("ml.train"):
        res = mp.train(ctx.spark, ctx.data)
    with ctx.tracer.span("ml.save"):
        mp.save_model(res, model_dir)
    with ctx.tracer.span("ml.load"):
        model = mp.load_model(ctx.spark, model_dir)
    with ctx.tracer.span("ml.prepare"):
        data = mp.prepare(ctx.spark, ctx.data)
    with ctx.tracer.span("ml.score"):
        scored = model.transform(data).select("label", "prediction").collect()
    return {"train": res, "score": scored}


def ml_timed(ctx: Ctx, state: dict) -> Timed:
    """Passes of the notebook until ``seconds`` pass, at least
    ``ML_MIN_PASSES``; the pass is the operation."""
    latencies, results = [], []
    t0 = time.perf_counter()
    while len(results) < ML_MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        model_dir = os.path.join(ctx.work, f"model-{len(results)}")
        lat, out = ctx.op("ml_pass", "pass", lambda d=model_dir: _ml_pass(ctx, d),
                          pair="ml_pass")
        if lat is None:
            break
        latencies.append(lat)
        results.append(out)
    state["results"] = results
    return Timed(latencies, passes=max(len(results), 1), wall=time.perf_counter() - t0)


def _auc(pairs: list[tuple[float, float]]) -> float:
    """Area under the ROC curve of (score, label) pairs, ties counted half
    (what ``BinaryClassificationEvaluator`` computes without binning)."""
    pos = sum(1 for _, y in pairs if y == 1.0)
    neg = len(pairs) - pos
    ranked = sorted(pairs)
    area, i, neg_below = 0.0, 0, 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][0] == ranked[i][0]:
            j += 1
        tie_pos = sum(1 for _, y in ranked[i:j] if y == 1.0)
        tie_neg = (j - i) - tie_pos
        area += tie_pos * (neg_below + tie_neg / 2)
        neg_below += tie_neg
        i = j
    return area / (pos * neg)


def ml_check(ctx: Ctx, state: dict) -> None:
    """Row accounting, reported metrics against metrics recomputed from the
    returned predictions, and identical metrics for one seed: across the
    run's passes and against the record a clean earlier run left for the
    same inputs (same sha256)."""
    digests = []
    for out in state["results"]:
        res, scored = out["train"], out["score"]
        n = len(scored)
        ctx.check("ml_split_rows", res.train_rows + res.test_rows == n,
                  f"{res.train_rows}+{res.test_rows} != {n} scored rows")
        ctx.check("ml_scored_rows", n > 0 and all(r.prediction in (0.0, 1.0) for r in scored),
                  "empty scoring or a prediction outside {0, 1}")
        preds = res.predictions.select("label", "prediction", "rawPrediction").collect()
        acc = sum(1 for r in preds if r.label == r.prediction) / len(preds)
        auc = _auc([(float(r.rawPrediction[1]), r.label) for r in preds])
        ctx.check("ml_accuracy", math.isclose(acc, res.accuracy, rel_tol=1e-12),
                  f"{acc} vs reported {res.accuracy}")
        ctx.check("ml_auc", math.isclose(auc, res.auc, rel_tol=1e-9),
                  f"{auc} vs reported {res.auc}")
        digests.append({
            "accuracy": res.accuracy, "auc": res.auc,
            "feature_importances": res.feature_importances,
            "train_rows": res.train_rows, "test_rows": res.test_rows,
        })
    if not digests:
        return
    ctx.check("ml_metrics_repeat", all(d == digests[0] for d in digests),
              "metrics differ between passes of one run")
    record = os.path.join(ctx.root, ".perfbench", f"ml_train-seed{ctx.seed}-metrics.json")
    digest = dict(json.loads(json.dumps(digests[0])), inputs_sha256=ctx.digest)
    earlier = None
    if os.path.exists(record):
        with open(record) as f:
            earlier = json.load(f)
    if earlier is not None and earlier.get("inputs_sha256") == ctx.digest:
        ctx.check("ml_metrics_same_seed", earlier == digest,
                  f"{digest} vs earlier run {earlier}")
    elif not ctx.failures:  # only a clean run becomes the reference
        with open(record, "w") as f:
            json.dump(digest, f, sort_keys=True)


WORKLOADS = {
    "dashboard": (dashboard_setup, dashboard_timed, dashboard_check),
    "lake_ingest": (lake_setup, lake_timed, lake_check),
    "ml_train": (ml_setup, ml_timed, ml_check),
}

"""Concurrency-conflict tests for the Delta commit path.

The optimistic-concurrency windows are deterministic here: every
rewrite op reads its snapshot, lands files, then claims a version
through `_claim_delta_version`, which validates every commit that
landed after that snapshot.  These tests inject a RACING commit inside
that window (by wrapping `_land_parquet` / `_claim_delta_version`) and
assert the documented conflict rules:

- compact vs delete            → compact ABORTS, no resurrection or
  duplication; its orphaned rewrite is vacuum fodder;
- compact vs append            → commutes (the appended file survives);
- merge vs compact             → merge ABORTS (stale remove list);
- restore vs append            → restore ABORTS (table read scope), and
  a retry lands exactly the target snapshot;
- stream sink across drains    → a persisted checkpoint makes a grown
  source deliver NEW batch ids (no silent skip / data loss);
- micro-batch schema           → divergent schema rejected at commit.

Appends never conflict, so these rewrites are the cases an append
stress test cannot reach.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
)


def _seed(spark, path, n=200, files=4):
    df = spark.range(n).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 7).cast("bigint").alias("v"),
    )
    dp.write_delta(df.repartitionByRange(files, "doc_id"), path)
    return df


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["v"]) for r in dp.read_delta(spark, path).collect()
    )


def _data_files(path):
    return {
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    }


def _operation(lines):
    for ln in lines:
        a = json.loads(ln)
        if "commitInfo" in a:
            return a["commitInfo"].get("operation")
    return None


def test_compact_aborts_on_racing_delete(spark, tmp_path, monkeypatch):
    """A delete that commits inside compact's land→claim window must
    abort the compaction: committing the stale remove list would
    resurrect the deleted rows AND double the kept rows of the file
    the delete rewrote."""
    path = str(tmp_path / "lake")
    _seed(spark, path)

    orig_land = dp._land_parquet
    raced = {"done": False}

    def racing_land(df, p, *args, **kwargs):
        out = orig_land(df, p, *args, **kwargs)
        if not raced["done"]:
            raced["done"] = True  # guard: the delete lands files too
            dp.delete_where_delta(spark, p, "doc_id", 50, 99)
        return out

    monkeypatch.setattr(dp, "_land_parquet", racing_land)
    with pytest.raises(dp.ConcurrentDeltaCommit, match="already rewrote"):
        dp.compact_delta(spark, path)
    monkeypatch.setattr(dp, "_land_parquet", orig_land)

    want = [(i, i * 7) for i in range(200) if not 50 <= i <= 99]
    assert _rows(spark, path) == want  # no resurrection, no duplication
    # compact's orphaned rewrite is referenced by no version, so a
    # vacuum that keeps every version reclaims exactly those files
    referenced = set()
    for v in dp.delta_versions(path):
        referenced |= set(dp._fold_delta_state(spark, path, v)[1])
    orphans = _data_files(path) - referenced
    assert orphans
    n_versions = len(dp.delta_versions(path))
    assert dp.vacuum_delta(
        spark, path, retain_versions=n_versions, min_age_s=0.0
    ) == len(orphans)
    assert _data_files(path) == referenced
    # and a clean re-run against the new snapshot succeeds
    dp.compact_delta(spark, path)
    assert _rows(spark, path) == want


def test_compact_commutes_with_racing_append(spark, tmp_path, monkeypatch):
    """A concurrent APPEND is not a conflict: its file is not in
    compact's remove list, so both commits land and every row survives
    exactly once."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    extra = spark.range(200, 230).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 7).cast("bigint").alias("v"),
    )

    orig_claim = dp._claim_delta_version
    raced = {"done": False}

    def racing_claim(p, lines, *args, **kwargs):
        if _operation(lines) == "OPTIMIZE" and not raced["done"]:
            raced["done"] = True
            dp.write_delta(extra, p)
        return orig_claim(p, lines, *args, **kwargs)

    monkeypatch.setattr(dp, "_claim_delta_version", racing_claim)
    dp.compact_delta(spark, path)
    monkeypatch.setattr(dp, "_claim_delta_version", orig_claim)

    assert _rows(spark, path) == [(i, i * 7) for i in range(230)]
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"


def test_merge_aborts_on_racing_compact(spark, tmp_path, monkeypatch):
    """merge_upsert_delta computes its touched-file list from a
    pre-claim snapshot; a compaction that commits first invalidates
    every name in it, so the merge must abort instead of committing
    stale removes."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    updates = spark.range(10, 20).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit(-1).cast("bigint").alias("v"),
    )

    orig_claim = dp._claim_delta_version
    raced = {"done": False}

    def racing_claim(p, lines, *args, **kwargs):
        if _operation(lines) == "MERGE" and not raced["done"]:
            raced["done"] = True
            dp.compact_delta(spark, p)
        return orig_claim(p, lines, *args, **kwargs)

    monkeypatch.setattr(dp, "_claim_delta_version", racing_claim)
    with pytest.raises(dp.ConcurrentDeltaCommit, match="already rewrote"):
        dp.merge_upsert_delta(spark, updates, path, "doc_id")
    monkeypatch.setattr(dp, "_claim_delta_version", orig_claim)

    # table is exactly the compacted seed — the merge left no trace
    assert _rows(spark, path) == [(i, i * 7) for i in range(200)]
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"
    # retry succeeds against the new snapshot
    dp.merge_upsert_delta(spark, updates, path, "doc_id")
    want = [(i, -1 if 10 <= i <= 19 else i * 7) for i in range(200)]
    assert _rows(spark, path) == want


def test_restore_accounts_for_racing_append(spark, tmp_path, monkeypatch):
    """restore's postcondition is 'the live set becomes exactly the
    target version's'.  It reads the whole table, so an append that
    lands between its fold and its claim aborts it instead of silently
    surviving; the retry then lands exactly the target snapshot."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    v0 = dp.delta_versions(path)[-1]
    dp.write_delta(
        spark.range(500, 510).select(
            F.col("id").cast("bigint").alias("doc_id"),
            F.lit(0).cast("bigint").alias("v"),
        ),
        path,
    )
    extra = spark.range(600, 610).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit(1).cast("bigint").alias("v"),
    )

    orig_claim = dp._claim_delta_version
    raced = {"done": False}

    def racing_claim(p, lines, *args, **kwargs):
        if _operation(lines) == "RESTORE" and not raced["done"]:
            raced["done"] = True
            dp.write_delta(extra, p)
        return orig_claim(p, lines, *args, **kwargs)

    monkeypatch.setattr(dp, "_claim_delta_version", racing_claim)
    with pytest.raises(dp.ConcurrentDeltaCommit, match="appended"):
        dp.restore_delta(spark, path, v0)
    monkeypatch.setattr(dp, "_claim_delta_version", orig_claim)

    dp.restore_delta(spark, path, v0)
    assert set(dp._fold_delta_state(spark, path, None)[1]) == set(
        dp._fold_delta_state(spark, path, v0)[1]
    )
    assert _rows(spark, path) == [(i, i * 7) for i in range(200)]


def test_stream_sink_persisted_checkpoint_survives_source_growth(
    spark, tmp_path
):
    """Exactly-once ACROSS drains: with the checkpoint persisted, a
    second drain of a GROWN source delivers only the new rows under a
    fresh batch id (the sink's `txn` version), and an unchanged source
    commits nothing."""
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    deltastream.register(spark)
    spark.range(100).select(F.col("id").alias("doc_id")).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    def drain():
        q = (
            spark.readStream.schema("doc_id bigint")
            .parquet(str(src))
            .writeStream.format("deltaproto")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert dp.read_delta(spark, path).count() == 100
    first_batch = dp.delta_txn_versions(spark, path)["deltastream-sink"]

    spark.range(100, 130).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    drain()
    got = sorted(r["doc_id"] for r in dp.read_delta(spark, path).collect())
    assert got == list(range(130))  # the new file was NOT skipped
    # batch ids are monotonic — the second drain used a fresh id
    assert dp.delta_txn_versions(spark, path)["deltastream-sink"] > first_batch

    # unchanged source: a third drain is a pure no-op
    n_versions = len(dp.delta_versions(path))
    drain()
    assert len(dp.delta_versions(path)) == n_versions


def test_commit_stream_batch_enforces_schema(spark, tmp_path):
    """Micro-batch commits (`txn`) honor the same write-time schema
    contract as batch appends — a divergent frame is rejected, not
    silently committed into the log."""
    path = str(tmp_path / "lake")
    _seed(spark, path)
    bad = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("v")
    )  # v is a string, the table says bigint
    with pytest.raises(ValueError, match="table schema says bigint"):
        dp.write_delta(bad, path, txn=("stream", 999))
    # nothing landed, nothing committed
    assert "stream" not in dp.delta_txn_versions(spark, path)
    assert len(dp.delta_versions(path)) == 1


def test_vacuum_single_forward_fold(spark, tmp_path, monkeypatch):
    """vacuum builds the referenced set in ONE forward fold: the commit
    log is read O(tail) times total, never O(retained × tail).  Pure
    log-level test — commits are hand-written actions, data files are
    empty placeholders (vacuum only stats/unlinks them)."""
    import uuid

    path = str(tmp_path / "lake")
    os.makedirs(path)

    def touch(name):
        open(os.path.join(path, name), "w").close()

    schema = '{"type":"struct","fields":[]}'
    live: list[str] = []
    n_commits = 24
    for i in range(n_commits):
        name = f"part-{uuid.uuid4().hex}.parquet"
        touch(name)
        lines = []
        if i == 0:
            lines += [
                json.dumps({"protocol": dict(dp._WRITE_PROTOCOL)}),
                json.dumps({"metaData": {
                    "id": "t", "format": {"provider": "parquet"},
                    "schemaString": schema, "partitionColumns": [],
                    "configuration": {},
                }}),
            ]
        if i % 3 == 2 and live:  # periodically rewrite the oldest file
            lines.append(json.dumps(
                {"remove": {"path": live.pop(0), "dataChange": True}}
            ))
        lines.append(json.dumps({"add": {
            "path": name, "partitionValues": {}, "size": 0,
            "modificationTime": 0, "dataChange": True,
        }}))
        dp._claim_delta_version(path, lines)
        live.append(name)

    calls = {"n": 0}
    orig = dp._read_actions

    def counting(p, v):
        calls["n"] += 1
        return orig(p, v)

    monkeypatch.setattr(dp, "_read_actions", counting)
    deleted = dp.vacuum_delta(spark, path, retain_versions=12, min_age_s=0.0)
    # one pass over the log (the retained window is re-read once for
    # its cdc actions), not one fold per retained version
    assert calls["n"] <= n_commits + 13
    monkeypatch.setattr(dp, "_read_actions", orig)
    # correctness: every file live in any retained version survives
    vs = dp.delta_versions(path)
    referenced = set()
    for v in vs[-13:]:
        referenced |= set(dp._fold_delta_state(spark, path, v)[1])
    assert _data_files(path) == referenced
    assert deleted == n_commits - len(referenced)

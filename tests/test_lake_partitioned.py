"""Partitioned Delta tables: hive-layout landing (partition columns
live in the add actions' `partitionValues` and the directory names, not
in the data files), two-tier pruning (partition values before stats),
spec enforcement across commits, and maintenance ops preserving the
partition values."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
    load_table,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )


def _live(spark, path):
    return dp._fold_delta_state(spark, path, None)[1]


@pytest.fixture()
def part_lake(spark, sf_dir, tmp_path):
    path = str(tmp_path / "plake")
    docs = _docs(spark, sf_dir)
    dp.write_delta(
        docs.repartitionByRange(4, "doc_id"), path, partition_by=["lang"]
    )
    return path, docs


def test_partition_tuples_recorded_and_rows_complete(spark, part_lake):
    """Every live file carries an exact partition value in the log and
    sits under the matching hive directory; per the spec the partition
    column is NOT in the file, and the snapshot reconstructs it from
    the log for every row."""
    import pyarrow.parquet as pq

    path, docs = part_lake
    live = _live(spark, path)
    assert live and all(
        set(a["partitionValues"]) == {"lang"} for a in live.values()
    )
    langs = {a["partitionValues"]["lang"] for a in live.values()}
    want_langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert langs == want_langs
    snap = dp.read_delta(spark, path)
    assert sorted(snap.columns) == sorted(docs.columns)
    assert sorted(
        (r["doc_id"], r["lang"]) for r in snap.select("doc_id", "lang").collect()
    ) == sorted(
        (r["doc_id"], r["lang"]) for r in docs.select("doc_id", "lang").collect()
    )
    for f, a in live.items():
        assert f.split("/")[0] == f"lang={a['partitionValues']['lang']}"
        assert "lang" not in pq.ParquetFile(os.path.join(path, f)).schema_arrow.names


def test_two_tier_pruning_counts(spark, part_lake):
    """The partition tier alone (exact values from the log, no footer
    reads) drops every non-'en' file; the stats tier drops files whose
    doc_id range cannot match.  The lang + doc_id box query the
    partitioned-scan entry runs is exactly the brute-force filter."""
    path, docs = part_lake
    live = _live(spark, path)
    n_en = sum(1 for a in live.values() if a["partitionValues"]["lang"] == "en")
    _df, n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "en", "en")
    assert (n_read, n_skipped) == (n_en, len(live) - n_en)
    df, n_read, n_skipped = dp.read_delta_pruned(spark, path, "doc_id", 0, 249)
    assert n_read + n_skipped == len(live)
    assert n_skipped > 0  # the stats tier bites across partitions
    got = df.filter(F.col("lang") == "en")
    want = docs.filter(
        (F.col("lang") == "en") & F.col("doc_id").between(0, 249)
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )


def test_partition_pruned_delete_touches_only_matching_partition(
    spark, part_lake
):
    """DELETE WHERE lang='fr' removes ONLY the fr files — every other
    partition's files keep their add actions, picked by the partition
    tier of `_add_outside_range`."""
    path, docs = part_lake
    before = _live(spark, path)
    fr_files = {
        f for f, a in before.items() if a["partitionValues"]["lang"] == "fr"
    }
    other = set(before) - fr_files
    dp.delete_where_delta(spark, path, "lang", "fr", "fr")
    after = set(_live(spark, path))
    assert other <= after  # untouched partitions survive by name
    assert not (fr_files & after)  # fr files all removed
    snap = dp.read_delta(spark, path)
    assert snap.filter(F.col("lang") == "fr").count() == 0
    assert snap.count() == docs.filter(F.col("lang") != "fr").count()


def test_spec_enforced_and_inherited(spark, sf_dir, part_lake):
    """Later appends inherit the table's partition spec automatically;
    an explicitly contradicting spec is rejected; the metaData action
    carries the spec."""
    path, docs = part_lake
    with pytest.raises(ValueError, match="contradicts the table's partition"):
        dp.write_delta(docs, path, partition_by=["source"])
    extra = docs.withColumn("doc_id", F.col("doc_id") + 100000).limit(40)
    dp.write_delta(extra, path)  # inherits ["lang"]
    meta, live, _v = dp._fold_delta_state(spark, path, None)
    assert meta["partitionColumns"] == ["lang"]
    assert all("lang" in a["partitionValues"] for a in live.values())
    assert len({a["partitionValues"]["lang"] for a in live.values()}) == (
        docs.select("lang").distinct().count()
    )


def test_compact_and_stream_append_preserve_tuples(spark, sf_dir, part_lake):
    """compact_delta re-lands through the partition spec, so partition
    values (and two-tier pruning) survive compaction; an exactly-once
    micro-batch write (`txn`) on a partitioned table lands them too,
    and its replay is dropped."""
    path, docs = part_lake
    batch = docs.withColumn("doc_id", F.col("doc_id") + 200000).limit(30)
    v = dp.write_delta(batch, path, txn=("stream", 7))
    assert dp.write_delta(batch, path, txn=("stream", 7)) == v  # replay
    dp.compact_delta(spark, path, target_mb=128)
    live = _live(spark, path)
    assert live and all("lang" in a["partitionValues"] for a in live.values())
    _df, _n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "zh", "zh")
    assert n_skipped > 0  # pruning still works post-compact
    assert dp.read_delta(spark, path).count() == docs.count() + 30


def test_null_partition_values_roundtrip_and_prune(spark, sf_dir, tmp_path):
    """A NULL partition value lands under Hive's default-partition
    sentinel, is recorded as a null partitionValue, reads back as NULL,
    and a BETWEEN predicate provably skips the file (three-valued
    logic: NULL never matches)."""
    path = str(tmp_path / "plake_null")
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("en")).alias("lang"),
    )
    dp.write_delta(df, path, partition_by=["lang"])
    assert any(
        f.startswith("lang=__HIVE_DEFAULT_PARTITION__/")
        and a["partitionValues"]["lang"] is None
        for f, a in _live(spark, path).items()
    )
    snap = dp.read_delta(spark, path)
    assert snap.filter(F.col("lang").isNull()).count() == 10
    _df, _n_read, n_skipped = dp.read_delta_pruned(spark, path, "lang", "en", "en")
    assert n_skipped >= 1  # the NULL-partition file is provably outside


def test_datasource_reader_works_writer_refuses(spark, part_lake, tmp_path):
    """format('deltaproto') READS a partitioned table (partition values
    come from the log), but its batch writer and streaming sink refuse
    one — the tuple-at-a-time Python path cannot land hive tuples, and
    landing unpartitioned files would corrupt the layout."""
    path, docs = part_lake
    deltastream.register(spark)
    got = spark.read.format("deltaproto").load(path)
    assert got.count() == docs.count()
    assert "lang" in got.columns
    with pytest.raises(Exception, match="PARTITIONED"):
        docs.limit(5).write.format("deltaproto").mode("append").save(path)
    src = str(tmp_path / "src")
    dp.write_delta(docs.limit(5), src)
    with pytest.raises(Exception, match="PARTITIONED"):
        q = (
            spark.readStream.format("deltaproto")
            .load(src)
            .writeStream.format("deltaproto")
            .option("path", path)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: commits carry commitInfo wall-clock stamps; a
    read at a past instant resolves to the last version committed by
    then."""
    import time as time_mod

    path = str(tmp_path / "ts_lake")
    clock = {"now": 1_000.0}
    monkeypatch.setattr(time_mod, "time", lambda: clock["now"])
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    dp.write_delta(df, path)  # v0 @ t=1000s
    clock["now"] = 2_000.0
    dp.write_delta(df.withColumn("doc_id", F.col("doc_id") + 10), path)
    clock["now"] = 3_000.0
    dp.delete_where_delta(spark, path, "doc_id", 0, 4)

    assert dp.delta_version_at_timestamp(path, 1_500_000) == 0
    assert dp.read_delta(spark, path, timestamp_ms=1_500_000).count() == 10
    assert dp.read_delta(spark, path, timestamp_ms=2_500_000).count() == 20
    assert dp.read_delta(spark, path, timestamp_ms=9_999_999).count() == 15
    with pytest.raises(ValueError, match="no Delta commit at or before"):
        dp.delta_version_at_timestamp(path, 500_000)


def test_isnull_pruning_via_null_counts(spark, tmp_path):
    """Null-count stats: a `maybe IS NULL` delete skips the files whose
    add-action stats record zero NULLs in the column — only the file
    holding the NULL rows is rewritten."""
    path = str(tmp_path / "null_lake")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 20, F.col("id")).alias("maybe"),  # NULL < 20
    )
    # range-partition by doc_id (5 x 20-row files): the NULLs live
    # entirely in the bottom file; the other four provably skip
    dp.write_delta(df.repartitionByRange(5, "doc_id"), path)
    before = _live(spark, path)
    assert sum(
        json.loads(a["stats"])["nullCount"]["maybe"] for a in before.values()
    ) == 20
    dp.delete_predicate_delta(spark, path, "maybe IS NULL", strategy="rewrite")
    after = _live(spark, path)
    assert len(set(before) - set(after)) == 1  # only the NULL-holding file
    assert dp.read_delta(spark, path).count() == 80


def test_check_constraints_enforced_at_write_time(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT: validated against existing rows,
    enforced on append / micro-batch / merge BEFORE anything lands (SQL
    CHECK semantics: NULL passes), and recorded as a
    `delta.constraints.<name>` table property."""
    path = str(tmp_path / "cons_lake")
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("price"),
    )
    dp.write_delta(df, path)
    dp.add_delta_constraint(spark, path, "price_nonneg", "price >= 0")
    with pytest.raises(ValueError, match="already exists"):
        dp.add_delta_constraint(spark, path, "price_nonneg", "price >= 0")
    # a constraint the current rows violate cannot be added
    with pytest.raises(ValueError, match="existing"):
        dp.add_delta_constraint(spark, path, "big_ids", "doc_id >= 5")
    meta, _live_files, _v = dp._fold_delta_state(spark, path, None)
    assert dp._table_constraints(meta) == {"price_nonneg": "price >= 0"}

    good = spark.range(20, 25).select(
        F.col("id").alias("doc_id"), F.lit(None).cast("bigint").alias("price")
    )
    dp.write_delta(good, path)  # NULL price passes CHECK

    bad = spark.range(30, 35).select(
        F.col("id").alias("doc_id"),
        (F.lit(-1) * F.col("id")).alias("price"),
    )
    n_before = len(_live(spark, path))
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.write_delta(bad, path)
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.write_delta(bad, path, txn=("stream", 99))
    with pytest.raises(ValueError, match="price_nonneg"):
        dp.merge_upsert_delta(spark, bad, path, "doc_id")
    # rejected writes left no trace
    assert len(_live(spark, path)) == n_before
    assert "stream" not in dp.delta_txn_versions(spark, path)
    assert dp.read_delta(spark, path).count() == 15

    dp.drop_delta_constraint(spark, path, "price_nonneg")
    meta, _live_files, _v = dp._fold_delta_state(spark, path, None)
    assert dp._table_constraints(meta) == {}
    dp.write_delta(bad, path)  # now allowed
    assert dp.read_delta(spark, path).count() == 20
    with pytest.raises(ValueError, match="no constraint"):
        dp.drop_delta_constraint(spark, path, "price_nonneg")

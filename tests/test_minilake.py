"""Bloom-filter file skipping on the Delta path: per-file sidecars under
`_delta_index/`, declared by the `BLOOM_COLUMNS_PROPERTY` table
property and consulted by `read_delta_pruned` on point lookups."""

import os

from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
)


def test_bloom_equality_skipping_and_carry(spark, tmp_path):
    """Bloom tier: on a HIGH-CARDINALITY UNSORTED column every file's
    [min, max] stats contain any probe (stats skip nothing), but the
    per-file bloom prunes point lookups to ~the one true file; zero
    false skips (probed values always found).  The skip counts hold
    after a checkpoint and after a compaction, which writes sidecars
    for the files it adds (one per partition of the 8-way layout)."""
    import random

    rnd = random.Random(11)
    # tokens randomly scattered across files: min/max spans everything
    rows = [(i, f"tok-{rnd.randrange(0, 10**9):09d}") for i in range(8000)]
    path = str(tmp_path / "lake")
    df = spark.createDataFrame(rows, "doc_id bigint, token string")
    df = df.withColumn("bucket", (F.col("doc_id") % 8).cast("int"))
    dp.write_delta(df.repartition(8, "bucket"), path, partition_by=["bucket"])
    dp.set_delta_properties(
        spark, path, {dp.BLOOM_COLUMNS_PROPERTY: "token, doc_id"}
    )
    probes = [rows[13][1], rows[4321][1], rows[7999][1]]

    def check_probes():
        for probe in probes:
            got, nread, nskip = dp.read_delta_pruned(
                spark, path, "token", probe, probe
            )
            assert nskip > 0 and nread <= 2, "bloom pruned nothing"
            assert [r["doc_id"] for r in got.collect()] == [
                i for i, (di, t) in enumerate(rows) if t == probe
            ]  # zero false skips
        # a value absent from the table skips (almost) every file
        _g, nread, nskip = dp.read_delta_pruned(
            spark, path, "token", "tok-nonexistent", "tok-nonexistent"
        )
        assert nread <= 1 and nskip >= 7

    check_probes()
    # an integer column is indexed too, and an integral float probe
    # hashes like the int it equals
    for probe in (4321, 4321.0):
        got, nread, _s = dp.read_delta_pruned(spark, path, "doc_id", probe, probe)
        assert nread <= 2 and [r["doc_id"] for r in got.collect()] == [4321]
    # the stats tier alone cannot prune this layout: a range probe
    # (no bloom check) over the same single value reads every file
    _g, nread, _s = dp.read_delta_pruned(
        spark, path, "token", probes[0], probes[0] + "\0"
    )
    assert nread == 8
    # a checkpoint folds the log but leaves the sidecars in force
    dp.write_delta_checkpoint(spark, path)
    check_probes()
    # compaction replaces every file; each new one gets its sidecar
    before = set(dp._fold_delta_state(spark, path, None)[1])
    dp.compact_delta(spark, path)
    live = dp._fold_delta_state(spark, path, None)[1]
    assert len(live) == 8 and not before & set(live)
    assert all(os.path.exists(dp._bloom_sidecar(path, f)) for f in live)
    check_probes()


def test_bloom_survives_column_renames(spark, tmp_path):
    """Sidecar entries key on the PHYSICAL column name: after renaming
    the bloom column away and renaming ANOTHER column onto its old
    name, a point lookup on that name never tests the new column's
    values against the old column's filter (no false skip), and the
    renamed column keeps its own index."""
    import random

    rnd = random.Random(5)
    rows = [
        (rnd.randrange(0, 10**9), rnd.randrange(0, 10**9)) for _ in range(4000)
    ]
    path = str(tmp_path / "lake")
    dp.write_delta(
        spark.createDataFrame(rows, "key bigint, other bigint").repartition(8),
        path,
    )
    dp.set_delta_properties(spark, path, {dp.BLOOM_COLUMNS_PROPERTY: "key"})
    dp.rename_delta_column(spark, path, "key", "k_old")
    dp.rename_delta_column(spark, path, "other", "key")
    probe_key, probe_other = rows[1234]
    got, _n, _s = dp.read_delta_pruned(
        spark, path, "key", probe_other, probe_other
    )
    assert [r["k_old"] for r in got.collect()] == [
        k for k, o in rows if o == probe_other
    ]
    got, nread, nskip = dp.read_delta_pruned(
        spark, path, "k_old", probe_key, probe_key
    )
    assert [r["key"] for r in got.collect()] == [
        o for k, o in rows if k == probe_key
    ]
    assert nread <= 2 and nskip >= 6


def test_bloom_lookup_entry_matches_and_skips(spark):
    """The driver-gate entry surfaces exactly the probed docs, and on
    its 8-file hash-distributed lake the bloom tier is doing the
    pruning: present keys skip most files, absent keys read none."""
    import hashlib

    sf_dir = "/root/testdata/sf0.001"
    got = dp.bloom_lookup_entry(spark, sf_dir).collect()
    assert [r["doc_id"] for r in got] == sorted(dp._BLOOM_PROBE_IDS)

    path = dp._bloom_lake_path(sf_dir)
    for i in dp._BLOOM_PROBE_IDS:
        key = hashlib.md5(str(i).encode()).hexdigest()
        _df, nread, nskip = dp.read_delta_pruned(spark, path, "key", key, key)
        assert nskip >= 6 and nread <= 2  # bloom pruned the point lookup
    for key in dp._BLOOM_ABSENT_KEYS:
        _df, nread, nskip = dp.read_delta_pruned(spark, path, "key", key, key)
        assert nread <= 1  # absent key: (almost) everything skipped


def test_variant_column_with_zone_maps_and_dv(spark, tmp_path):
    """A VARIANT column in a bloom-declared Delta table: the stats
    collector routes through the JVM footer fallback (pyarrow cannot
    open variant files), so SIBLING columns keep their min/max
    skipping stats while blooms degrade to no sidecar; reads, pruning,
    and DV deletes all compose."""
    import json

    path = str(tmp_path / "dvar")
    df = spark.range(40).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.parse_json(F.format_string('{"a": %d}', "id")).alias("props"),
    )
    dp.write_delta(df.repartitionByRange(4, "doc_id"), path)
    dp.set_delta_properties(spark, path, {dp.BLOOM_COLUMNS_PROPERTY: "doc_id"})
    back = dp.read_delta(spark, path)
    assert back.schema["props"].dataType.typeName() == "variant"
    got = sorted(
        r[0]
        for r in back.select(F.variant_get("props", "$.a", "long")).collect()
    )
    assert got == list(range(40))
    # sibling stats present on every file (JVM footer fallback)
    _meta, live, _v = dp._fold_delta_state(spark, path, None)
    assert len(live) == 4
    for add in live.values():
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        assert "doc_id" in st["minValues"] and "lang" in st["minValues"]
        assert "props" not in st["minValues"]
    # range and point pruning still work through the variant table
    pruned, _n_read, n_skip = dp.read_delta_pruned(spark, path, "doc_id", 0, 9)
    assert sorted(r["doc_id"] for r in pruned.collect()) == list(range(10))
    assert n_skip > 0
    point, _r, _s = dp.read_delta_pruned(spark, path, "doc_id", 7, 7)
    assert [r["doc_id"] for r in point.collect()] == [7]
    # DV delete composes with the variant column
    dp.delete_where_delta(spark, path, "doc_id", 5, 14, strategy="dv")
    left = sorted(
        r[0]
        for r in dp.read_delta(spark, path)
        .select(F.variant_get("props", "$.a", "long"))
        .collect()
    )
    assert left == [i for i in range(40) if not 5 <= i <= 14]

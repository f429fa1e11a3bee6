"""Driver-runnable oracle mini-sweep over the r16-touched entries.

VERDICT r15 item 8: the driver's frozen 50-query correctness window
covers few of the optimizer-touched entries, so this module pins every
oracle-bearing entry the r16 optimization round rewrote against its
declared DuckDB oracle at sf0.001 — inside the pytest gate the driver
runs, not just the builder's out-of-band `tools/check_oracle.py`
sweep.  Comparison semantics replicate the driver's gate: same column
set, same rowcount, order-insensitive normalized multiset equality.
"""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

import __spark_entry__ as entry  # noqa: E402
from check_oracle import _rows_to_multiset  # noqa: E402

#: Every oracle-bearing entry whose plan or kernel r16 touched:
#: BM25/hybrid stats-literal fold, per-row boilerplate scrub, the
#: _read_entries group merge (stream/exotic are its heavy users),
#: the JPEG codec rewrite, and the fused PNG kernel.  train_prep
#: composites over the scrub.
TOUCHED = [
    "text_bm25_search",
    "retrieval_hybrid_rrf",
    "text_boilerplate_scrub",
    "text_train_prep",
    "lake_iceberg_stream_hours",
    "lake_iceberg_exotic",
    "lake_iceberg_row_lineage",
    "mm_video_mjpeg_pipeline",
    "mm_video_mp4_pipeline",
    "mm_image_jpeg_pipeline",
    "mm_image_png_pipeline",
    # the table-format entries: their lakes are built and read through
    # the Delta log, so a value match pins every lake operation on the
    # path (append, pruned and DV deletes, compaction, CDF, bloom and
    # partition skipping, view refresh) against the raw parquet
    "lake_documents_roundtrip",
    "lake_changes_feed",
    "lake_dv_roundtrip",
    "lake_partitioned_scan",
    "lake_bloom_lookup",
    "lake_incremental_view",
    "med_q02_lake_table",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TOUCHED)
def test_touched_entry_matches_oracle(spark, sf_dir, duck, name):
    queries = entry.queries()
    oracles = entry.oracle_sql()
    assert name in queries, f"{name} dropped from queries()"
    assert name in oracles, f"{name} lost its oracle"
    sdf = queries[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _rows_to_multiset(scols, srows) == _rows_to_multiset(
        dcols, drows
    )

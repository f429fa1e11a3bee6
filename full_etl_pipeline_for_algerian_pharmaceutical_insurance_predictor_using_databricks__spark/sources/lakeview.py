"""Incremental materialized views over the Delta change feed — the
lakehouse capability the CDF exists to enable (Delta Live Tables /
materialized-view maintenance): keep a grouped aggregate table fresh
by applying each commit's insert/delete DELTAS instead of recomputing
from the base table.

At 100 TB the difference is the whole point: a full refresh rescans
the table per refresh; the incremental path reads ONLY the change
files of the commits since the last sync (appends, `cdc` files of
deletes), aggregates the delta (map-side partial + shuffle on the
group key — the same shape as the view itself), and folds the
per-group adjustments into the view.  Pure rewrites (compact/OPTIMIZE)
contribute nothing and cost nothing, because their actions carry
`dataChange: false` and the feed skips them.

Self-maintainable aggregates only (COUNT / SUM — and anything
derivable from them, e.g. AVG = sum/count): deltas apply as
additions/subtractions with no need to see the base table.  MIN/MAX
are NOT self-maintainable under deletes (a deleted minimum forces a
re-scan of its group) — `refresh()` raises if the feed cannot be
derived and the caller falls back to `full_refresh`, mirroring how
production IVM systems degrade.

The view is itself a Delta table.  Its sync position is the protocol's
application-transaction (`txn`) action: every view commit is an
overwrite carrying `txn=("lakeview", <synced base version>)`, so the
position commits atomically WITH the new rows, a re-run reads it back
through `delta_txn_versions`, and a replayed refresh for a position
already committed is dropped by the writer's own idempotence rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .deltaproto import (
    compact_delta,
    delete_where_delta,
    delta_txn_versions,
    delta_versions,
    read_changes_delta,
    read_delta,
    write_delta,
)

#: `txn` appId under which a view records the base version it reflects.
_VIEW_APP_ID = "lakeview"


def _synced_version(spark: SparkSession, view_path: str) -> int:
    """Base version the view is synced to; -1 for an absent view."""
    if not delta_versions(view_path):
        return -1
    return delta_txn_versions(spark, view_path).get(_VIEW_APP_ID, -1)


def _grouped_counts(df: DataFrame, group_cols: list[str], value_col: str):
    return df.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(value_col).cast("bigint").alias("sum_value"),
    )


def full_refresh(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    group_cols: list[str],
    value_col: str,
) -> int:
    """Recompute the view from the base snapshot (the bootstrap, and
    the fallback when the feed is not applicable).  Commits the result
    as an overwrite carrying the synced base version."""
    base_v = delta_versions(base_path)[-1]
    agg = _grouped_counts(read_delta(spark, base_path), group_cols, value_col)
    return write_delta(
        agg, view_path, mode="overwrite", txn=(_VIEW_APP_ID, base_v)
    )


def refresh(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    group_cols: list[str],
    value_col: str,
) -> int | None:
    """INCREMENTAL refresh: apply the change feed since the view's
    synced position.  Returns the view's new commit version, None if
    already current.  Groups whose row count reaches zero are dropped
    from the view (SQL GROUP BY semantics).  Updates and merges apply
    through their pre/post images, a RESTORE through its file and
    deletion-vector diff.  Raises ValueError when the range holds a
    commit whose change feed is not derivable (a rewrite without
    `cdc` actions, a vacuumed pre-image) — fall back to
    `full_refresh`."""
    base_v = delta_versions(base_path)[-1]
    synced = _synced_version(spark, view_path)
    if synced < 0:
        return full_refresh(spark, base_path, view_path, group_cols, value_col)
    if base_v <= synced:
        return None
    feed = read_changes_delta(
        spark, base_path, since_version=synced + 1, end_version=base_v
    )
    # an update/merge's post-image adds its row, its pre-image retracts
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.withColumn("_sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("_sign").cast("bigint").alias("d_rows"),
            F.sum(F.col(value_col) * F.col("_sign"))
            .cast("bigint")
            .alias("d_value"),
        )
        .filter((F.col("d_rows") != 0) | (F.col("d_value") != 0))
    )
    current = read_delta(spark, view_path)
    merged = (
        current.alias("v")
        .join(delta.alias("d"), group_cols, "full_outer")
        .select(
            *group_cols,
            (
                F.coalesce(F.col("v.n_rows"), F.lit(0))
                + F.coalesce(F.col("d.d_rows"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce(F.col("v.sum_value"), F.lit(0))
                + F.coalesce(F.col("d.d_value"), F.lit(0))
            )
            .cast("bigint")
            .alias("sum_value"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return write_delta(
        merged, view_path, mode="overwrite", txn=(_VIEW_APP_ID, base_v)
    )


# --------------------------------------------------------------------------
# Driver entry
# --------------------------------------------------------------------------

_VIEW_LAKE_VERSION = 2  # v2: base and view are Delta tables


def incremental_view_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for incremental view maintenance: build a
    documents lake, bootstrap a per-source (count, sum-of-chars) view,
    then drive appends, a predicate DELETE, a DV DELETE, and a
    compaction through INCREMENTAL refreshes only — and return the
    view.  The DuckDB oracle recomputes the same aggregate from
    scratch over the raw parquet minus the deleted ranges, so a value
    match proves delta application (±signs, group drops, DV deletes,
    maintenance skips) is exact — the view was never fully
    recomputed after bootstrap."""
    import os

    from ..functions.scale import default_index_dir
    from . import load_table

    root = default_index_dir("lakeview", _VIEW_LAKE_VERSION, sf_dir)
    base = os.path.join(root, "docs_base")
    view = os.path.join(root, "docs_view")
    if not delta_versions(view):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.length("text").cast("bigint").alias("chars")
        )
        first = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        write_delta(first.repartitionByRange(4, "doc_id"), base)
        refresh(spark, base, view, ["source"], "chars")  # bootstrap
        write_delta(rest, base)
        refresh(spark, base, view, ["source"], "chars")
        delete_where_delta(spark, base, "doc_id", 100, 199)
        delete_where_delta(spark, base, "doc_id", 300, 349, strategy="dv")
        compact_delta(spark, base)
        refresh(spark, base, view, ["source"], "chars")
    return (
        read_delta(spark, view)
        .select("source", "n_rows", "sum_value")
        .orderBy("source")
    )


VIEW_ORACLE_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_value
FROM documents
WHERE doc_id NOT BETWEEN 100 AND 199
  AND doc_id NOT BETWEEN 300 AND 349
GROUP BY source
ORDER BY source
"""

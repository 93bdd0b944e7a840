"""Iceberg snapshot ``summary`` fields (r15 verdict #9 — the Delta
operationMetrics twin).

Every engine snapshot carries the spec's summary map: ``operation``
plus added/deleted per-commit deltas and exact total-data-files /
total-records / total-delete-files / total-position-deletes
recomputed from the new manifest list's own rows (spark-iceberg
stamps the same fields). Asserted against the ACTUAL row/file deltas
per operation; foreign snapshots whose summary has only
``operation`` still read."""
from __future__ import annotations

import pyspark.sql.functions as F

from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
from census_asc5_data_pipeline_spark.sources.merge import merge_into


def _summary(path: str, snap_id=None) -> dict:
    _v, meta = ice._current_metadata(path)
    snaps = meta.get("snapshots", [])
    if snap_id is None:
        snap_id = meta.get("current-snapshot-id")
    s = next(x for x in snaps if x["snapshot-id"] == snap_id)
    return dict(s.get("summary") or {})


def _mk(spark, path: str, n: int = 10) -> None:
    ice.write_iceberg(
        spark.range(n)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        path,
    )


def test_append_summary(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    s = _summary(p)
    assert s["operation"] == "append"
    assert int(s["added-data-files"]) == 1
    assert int(s["added-records"]) == 10
    assert int(s["added-files-size"]) > 0
    assert int(s["total-records"]) == 10
    assert int(s["total-data-files"]) == 1
    assert int(s["total-delete-files"]) == 0
    assert int(s["total-files-size"]) == int(s["added-files-size"])
    # second append: totals accumulate, files-size chains
    ice.write_iceberg(
        spark.range(10, 15)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        p,
    )
    s2 = _summary(p)
    assert int(s2["added-records"]) == 5
    assert int(s2["total-records"]) == 15
    assert int(s2["total-data-files"]) == 2
    assert int(s2["total-files-size"]) > int(s["total-files-size"])


def test_overwrite_summary(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    ice.write_iceberg(
        spark.range(4)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        p,
        mode="overwrite",
    )
    s = _summary(p)
    assert s["operation"] == "overwrite"
    assert int(s["added-records"]) == 4
    assert int(s["deleted-data-files"]) == 1
    assert int(s["deleted-records"]) == 10
    assert int(s["removed-files-size"]) > 0
    assert int(s["total-records"]) == 4
    assert int(s["total-data-files"]) == 1
    assert int(s["total-files-size"]) == int(s["added-files-size"])


def test_position_delete_summary(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    ice.delete_iceberg_positions(spark, p, "id >= 7")
    s = _summary(p)
    assert s["operation"] == "delete"
    assert int(s["added-delete-files"]) >= 1
    assert int(s["added-position-deletes"]) == 3
    # deleted-records is reserved for records in removed DATA files;
    # a MoR position delete must NOT stamp it (spark-iceberg parity)
    assert "deleted-records" not in s
    assert int(s["total-position-deletes"]) == 3
    assert int(s["total-delete-files"]) >= 1
    # data files untouched (merge-on-read)
    assert int(s["total-data-files"]) == 1
    assert int(s["total-records"]) == 10  # physical rows still there
    assert ice.read_iceberg(spark, p).count() == 7


def test_merge_mor_summary(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    src = spark.range(7, 13).select(F.col("id"), F.lit(99).alias("k"))
    merge_into(
        spark,
        "iceberg",
        p,
        src,
        "t.id = s.id",
        matched=[("update", None, {"k": "s.k"})],
        not_matched={"id": "s.id", "k": "s.k"},
    )
    s = _summary(p)
    assert s["operation"] == "overwrite"
    # 3 updated post-images + 3 inserts land as new data files;
    # 3 old positions retire via position deletes
    assert int(s["added-records"]) == 6
    assert int(s["added-data-files"]) >= 1
    assert int(s["added-delete-files"]) >= 1
    assert int(s["added-position-deletes"]) == 3
    assert int(s["total-records"]) == 16  # 10 physical + 6 new
    assert int(s["total-position-deletes"]) == 3
    assert ice.read_iceberg(spark, p).count() == 13


def test_rewrite_summary_and_totals_restore(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(3):
        ice.write_iceberg(
            spark.range(i * 10, i * 10 + 10)
            .coalesce(1)
            .select(F.col("id"), (F.col("id") % 3).alias("k")),
            p,
        )
    res = ice.rewrite_data_files(spark, p, target_file_bytes=1 << 30)
    assert res["snapshot_id"] is not None
    s = _summary(p, res["snapshot_id"])
    assert s["operation"] == "replace"
    assert int(s["deleted-data-files"]) == 3
    assert int(s["deleted-records"]) == 30
    assert int(s["added-records"]) == 30  # rearrangement, same rows
    assert int(s["total-records"]) == 30
    assert int(s["total-data-files"]) == int(s["added-data-files"])
    assert ice.read_iceberg(spark, p).count() == 30


def test_snapshots_meta_table_surfaces_summary(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=8)
    row = (
        ice.read_iceberg_meta(spark, p, "snapshots")
        .orderBy(F.desc("snapshot_id"))
        .collect()[0]
    )
    assert row.operation == "append"
    assert int(row.summary["added-records"]) == 8
    assert int(row.summary["total-records"]) == 8


def test_foreign_operation_only_summary_still_reads(spark, tmp_path):
    import json
    import os

    p = str(tmp_path / "t")
    _mk(spark, p, n=5)
    # strip the engine's summary fields down to the bare operation a
    # minimal foreign writer might stamp
    v, meta = ice._current_metadata(p)
    for s in meta.get("snapshots", []):
        s["summary"] = {"operation": s["summary"]["operation"]}
    ice._commit_metadata(p, lambda _v, _m: meta)
    assert ice.read_iceberg(spark, p).count() == 5
    # and the NEXT engine commit re-derives exact totals from the
    # manifest list (only total-files-size, which must chain, is
    # omitted for the unknown-parent case)
    ice.write_iceberg(
        spark.range(5, 8)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        p,
    )
    s = _summary(p)
    assert int(s["total-records"]) == 8
    assert "total-files-size" not in s

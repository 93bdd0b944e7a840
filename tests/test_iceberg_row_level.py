"""Row-level DML through the one Iceberg row-level commit
(``iceberg_io._commit_row_level``) and the UPDATE SQL split.

- a delete file spans partitions, so on a partitioned table its
  manifest lists under a spec with no fields — under the table's
  partitioned spec another reader would apply it only within its own
  (empty) partition;
- the data manifest an UPDATE or MERGE writes carries partition field
  summaries, so a partition-predicate read skips it undecoded;
- ``UPDATE t SET ... WHERE ...`` splits at the first ``WHERE`` outside
  quoted strings and backticked identifiers.
"""

from __future__ import annotations

import struct

import pytest

from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
from census_asc5_data_pipeline_spark.sources.avro_io import (
    read_container_generic,
)
from census_asc5_data_pipeline_spark.sources.merge import (
    dml_sql,
    update_where,
)


def _manifest_list_entries(path):
    _v, meta = ice._current_metadata(path)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return read_container_generic(ice._local(snap["manifest-list"]))[1]


@pytest.mark.parametrize("kind", ["v2_position", "v3_dv", "equality"])
def test_partitioned_delete_lists_under_unpartitioned_spec(
    spark, tmp_path, kind
):
    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame(
            [(i, i % 2) for i in range(8)], "id long, p int"
        ),
        p,
        partition_by=["p"],
        format_version=3 if kind == "v3_dv" else 2,
    )
    if kind == "equality":
        ice.delete_iceberg_where(
            spark.createDataFrame([(i,) for i in range(4)], "id long"), p
        )
    else:
        ice.delete_iceberg_positions(spark, p, "id < 4")
    _v, meta = ice._current_metadata(p)
    fields_of = {
        int(s["spec-id"]): s["fields"] for s in meta["partition-specs"]
    }
    deletes = [m for m in _manifest_list_entries(p) if m["content"] == 1]
    assert deletes
    assert all(fields_of[m["partition_spec_id"]] == [] for m in deletes)
    # new data still lays out under the table's partitioned spec
    assert fields_of[int(meta["default-spec-id"])] != []
    assert sorted(r.id for r in ice.read_iceberg(spark, p).collect()) == [
        4, 5, 6, 7,
    ]
    ice.write_iceberg(
        spark.createDataFrame([(0, 0)], "id long, p int"), p
    )
    assert sorted(r.id for r in ice.read_iceberg(spark, p).collect()) == [
        0, 4, 5, 6, 7,
    ]


def test_update_data_manifest_carries_partition_summaries(
    spark, tmp_path, monkeypatch
):
    p = str(tmp_path / "t")
    for g in (1, 2, 3):
        ice.write_iceberg(
            spark.createDataFrame(
                [(g * 100 + i, g) for i in range(20)], "k long, g int"
            ),
            p,
            partition_by=["g"],
        )
    sid = update_where(spark, "iceberg", p, "g = 3", {"k": "k + 1000"})
    (upd,) = [
        m
        for m in _manifest_list_entries(p)
        if m["content"] == 0 and m["added_snapshot_id"] == sid
    ]
    (summary,) = upd["partitions"]
    assert summary["contains_null"] is False
    assert struct.unpack("<i", bytes(summary["lower_bound"]))[0] == 3
    assert struct.unpack("<i", bytes(summary["upper_bound"]))[0] == 3
    decoded: list[str] = []
    real = ice.read_container_generic

    def counting(fp):
        decoded.append(fp)
        return real(fp)

    monkeypatch.setattr(ice, "read_container_generic", counting)
    got = ice.read_iceberg(spark, p, predicate="g = 1")
    assert sorted(r.k for r in got.collect()) == [100 + i for i in range(20)]
    assert ice._local(upd["manifest_path"]) not in decoded


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_update_sql_splits_where_outside_quotes(spark, tmp_path, fmt):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 0)], "id long, s string, `a WHERE b` int"
    )
    if fmt == "delta":
        # a column name with spaces needs column mapping on Delta
        d.write_delta(
            df, p, configuration={"delta.columnMapping.mode": "name"}
        )
    else:
        ice.write_iceberg(df, p)
    dml_sql(
        spark,
        "UPDATE t SET s = 'a WHERE b', `a WHERE b` = 7 WHERE id = 1",
        {"t": (fmt, p)},
    )
    read = d.read_delta if fmt == "delta" else ice.read_iceberg
    assert sorted(tuple(r) for r in read(spark, p).collect()) == [
        (1, "a WHERE b", 7),
        (2, "y", 0),
    ]


def test_write_commits_no_empty_data_files(spark, tmp_path):
    """A write registers only the parts holding rows: a 1-row append
    of a 2-partition frame adds one data file with record_count 1,
    and a 0-row create and append still commit and read back their
    schema."""
    p = str(tmp_path / "t")
    empty = spark.createDataFrame([], "k long, v string")
    ice.write_iceberg(empty, p)
    ice.write_iceberg(empty, p)
    out = ice.read_iceberg(spark, p)
    assert out.schema.simpleString() == "struct<k:bigint,v:string>"
    assert out.count() == 0
    one = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a")], 2), "k long, v string"
    )
    ice.write_iceberg(one, p)
    _v, meta = ice._current_metadata(p)
    added = [
        e
        for m in _manifest_list_entries(p)
        if m["added_snapshot_id"] == meta["current-snapshot-id"]
        for e in read_container_generic(ice._local(m["manifest_path"]))[1]
    ]
    assert [e["data_file"]["record_count"] for e in added] == [1]
    assert [tuple(r) for r in ice.read_iceberg(spark, p).collect()] == [
        (1, "a")
    ]

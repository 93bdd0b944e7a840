"""MERGE INTO over both table formats (sources/merge.py): ANSI clause
ordering, cardinality violation, Delta copy-on-write commit shape +
CDF change rows, Iceberg single-snapshot merge-on-read (position
deletes + appends), and the SQL front-end's parse surface."""

from __future__ import annotations

import json
import os

import pytest


def _mk(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl)


def _log_actions(path, version):
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    return [json.loads(line) for line in open(log) if line.strip()]


def test_merge_delta_update_delete_insert(spark, tmp_path):
    """Functional MERGE on Delta: update + conditional delete +
    insert in one commit; only touched files rewritten; AS-OF intact;
    clause ORDER wins (delete-before-update consumes its rows)."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(i, float(i * 10)) for i in range(6)],
            "id bigint, price double",
        ),
        path,
    )  # v0
    src = _mk(
        spark,
        [(0, 99.0, "U"), (1, 0.0, "D"), (7, 70.0, "I"), (8, 80.0, "I")],
        "id bigint, price double, op string",
    )
    v = merge_into(
        spark,
        "delta",
        path,
        src,
        "t.id = s.id",
        matched=[
            ("delete", "s.op = 'D'"),
            ("update", None, {"price": "s.price"}),
        ],
        not_matched={"id": "s.id", "price": "s.price"},
    )
    assert v == 1
    got = sorted((r.id, r.price) for r in read_delta(spark, path).collect())
    assert got == [
        (0, 99.0),  # updated
        # id=1 deleted
        (2, 20.0),
        (3, 30.0),
        (4, 40.0),
        (5, 50.0),
        (7, 70.0),  # inserted
        (8, 80.0),
    ]
    # AS-OF v0 untouched
    assert read_delta(spark, path, version=0).count() == 6
    acts = _log_actions(path, v)
    assert any("remove" in a for a in acts)
    assert any("add" in a for a in acts)
    assert any(
        a.get("commitInfo", {}).get("operation") == "MERGE" for a in acts
    )


def test_merge_delta_cardinality_violation_and_noop(spark, tmp_path):
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_delta(_mk(spark, [(1,)], "id bigint"), path)
    dup_src = _mk(spark, [(1, "a"), (1, "b")], "id bigint, v string")
    with pytest.raises(ValueError, match="cardinality"):
        merge_into(
            spark,
            "delta",
            path,
            dup_src,
            "t.id = s.id",
            matched=[("delete", None)],
        )
    # no rows hit any clause → no commit
    miss = _mk(spark, [(9, "x")], "id bigint, v string")
    assert (
        merge_into(
            spark,
            "delta",
            path,
            miss,
            "t.id = s.id",
            matched=[("delete", None)],
        )
        is None
    )


def test_merge_delta_cdf_change_rows(spark, tmp_path):
    """With CDF on, the MERGE commit stages delete / update_preimage /
    update_postimage / insert change rows."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta_cdf,
        set_delta_properties,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_delta(
        _mk(spark, [(1, 10.0), (2, 20.0)], "id bigint, price double"),
        path,
    )
    set_delta_properties(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    src = _mk(
        spark,
        [(1, 11.0, "U"), (2, 0.0, "D"), (3, 30.0, "I")],
        "id bigint, price double, op string",
    )
    v = merge_into(
        spark,
        "delta",
        path,
        src,
        "t.id = s.id",
        matched=[
            ("delete", "s.op = 'D'"),
            ("update", None, {"price": "s.price"}),
        ],
        not_matched={"id": "s.id", "price": "s.price"},
    )
    feed, _ = read_delta_cdf(spark, path, since_version=v - 1)
    rows = sorted(
        (r.id, r.price, r._change_type) for r in feed.collect()
    )
    assert rows == [
        (1, 10.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
        (2, 20.0, "delete"),
        (3, 30.0, "insert"),
    ]


def test_merge_iceberg_single_snapshot_mor(spark, tmp_path):
    """Iceberg MERGE commits ONE snapshot: matched rows retired by a
    position-delete file, update post-images + inserts appended; the
    pre-merge snapshot stays AS-OF readable; the change feed shows
    the merge as delete images + inserts."""
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        iceberg_snapshots,
        read_iceberg,
        read_iceberg_changes,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_iceberg(
        _mk(
            spark,
            [(i, float(i * 10)) for i in range(6)],
            "id bigint, price double",
        ),
        path,
    )  # s1
    src = _mk(
        spark,
        [(0, 99.0, "U"), (1, 0.0, "D"), (7, 70.0, "I")],
        "id bigint, price double, op string",
    )
    sid = merge_into(
        spark,
        "iceberg",
        path,
        src,
        "t.id = s.id",
        matched=[
            ("delete", "s.op = 'D'"),
            ("update", None, {"price": "s.price"}),
        ],
        not_matched={"id": "s.id", "price": "s.price"},
    )
    assert sid is not None
    assert len(iceberg_snapshots(path)) == 2  # ONE merge snapshot
    got = sorted(
        (r.id, r.price) for r in read_iceberg(spark, path).collect()
    )
    assert got == [
        (0, 99.0),
        (2, 20.0),
        (3, 30.0),
        (4, 40.0),
        (5, 50.0),
        (7, 70.0),
    ]
    assert read_iceberg(spark, path, snapshot_id=1).count() == 6
    feed, _ = read_iceberg_changes(spark, path, since_snapshot_id=1)
    dels = sorted(
        (r.id, r.price)
        for r in feed.where("_change_type = 'delete'").collect()
    )
    ins = sorted(
        (r.id, r.price)
        for r in feed.where("_change_type = 'insert'").collect()
    )
    assert dels == [(0, 0.0), (1, 10.0)]  # full pre-merge images
    assert ins == [(0, 99.0), (7, 70.0)]  # post-image + insert


def test_merge_into_sql_front_end(spark, tmp_path):
    """The SQL layer parses the ANSI statement, resolves the catalog,
    rewrites arbitrary aliases, and supports UPDATE SET * / INSERT *."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(1, 10.0), (2, 20.0), (3, 30.0)],
            "id bigint, price double",
        ),
        path,
    )
    _mk(
        spark,
        [(1, 11.0), (2, 0.0), (9, 90.0)],
        "id bigint, price double",
    ).createOrReplaceTempView("updates_v")
    v = merge_into_sql(
        spark,
        """
        MERGE INTO sales AS tgt USING updates_v AS u
        ON tgt.id = u.id
        WHEN MATCHED AND u.price = 0.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET price = u.price * 2
        WHEN NOT MATCHED THEN INSERT (id, price) VALUES (u.id, u.price)
        """,
        {"sales": ("delta", path)},
    )
    assert v == 1
    got = sorted((r.id, r.price) for r in read_delta(spark, path).collect())
    assert got == [(1, 22.0), (3, 30.0), (9, 90.0)]
    # UPDATE SET * / INSERT * shorthands over a subquery source
    v2 = merge_into_sql(
        spark,
        "MERGE INTO sales t USING "
        "(SELECT 3 AS id, CAST(33.0 AS DOUBLE) AS price) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"sales": ("delta", path)},
    )
    assert v2 == 2
    got2 = sorted(
        (r.id, r.price) for r in read_delta(spark, path).collect()
    )
    assert got2 == [(1, 22.0), (3, 33.0), (9, 90.0)]
    # unknown table raises
    with pytest.raises(ValueError, match="not in catalog"):
        merge_into_sql(
            spark,
            "MERGE INTO nope USING updates_v s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE",
            {"sales": ("delta", path)},
        )


def test_merge_iceberg_sql_and_partitioned_gate(spark, tmp_path):
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_iceberg(_mk(spark, [(1, "a"), (2, "b")], "id bigint, s string"), path)
    _mk(spark, [(2, "B"), (4, "d")], "id bigint, s string").createOrReplaceTempView("ice_src")
    merge_into_sql(
        spark,
        "MERGE INTO ice USING ice_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"ice": ("iceberg", path)},
    )
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path).collect()
    ) == [(1, "a"), (2, "B"), (4, "d")]
    # IDENTITY-partitioned MERGE: rows land in the right partition
    # dirs with typed manifest partition values; the delete manifest
    # registers/uses an UNPARTITIONED spec (global position deletes
    # per spec); transforms still gate
    path2 = str(tmp_path / "tp")
    write_iceberg(
        _mk(
            spark,
            [(1, "a", "g1"), (2, "b", "g2")],
            "id bigint, s string, g string",
        ),
        path2,
        partition_by=["g"],
    )
    _mk(
        spark,
        [(2, "B", "g2"), (4, "d", "g1")],
        "id bigint, s string, g string",
    ).createOrReplaceTempView("ice_psrc")
    merge_into_sql(
        spark,
        "MERGE INTO icep USING ice_psrc s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"icep": ("iceberg", path2)},
    )
    assert sorted(
        (r.id, r.s, r.g) for r in read_iceberg(spark, path2).collect()
    ) == [(1, "a", "g1"), (2, "B", "g2"), (4, "d", "g1")]
    # new files landed under their hive partition dirs
    import glob as _glob

    assert _glob.glob(path2 + "/data/g=g1/*.parquet")
    assert _glob.glob(path2 + "/data/g=g2/*.parquet")
    # the metadata now carries an unpartitioned spec for the deletes
    import json as _json

    hint = open(path2 + "/metadata/version-hint.text").read()
    meta = _json.load(
        open(path2 + f"/metadata/v{hint}.metadata.json")
    )
    assert any(
        not s.get("fields") for s in meta["partition-specs"]
    )
    # partition pruning still works on the merged table
    pruned = read_iceberg(
        spark, path2, partition_filter={"g": "g2"}
    )
    assert [(r.id, r.s) for r in pruned.collect()] == [(2, "B")]
    # transform-partitioned DML (round-11: the identity-only gate
    # lifted): MERGE over a bucket(4,id) table retires + stages
    # through the spec murmur3 kernel
    path3 = str(tmp_path / "tb")
    write_iceberg(
        _mk(spark, [(1, "a"), (2, "b")], "id bigint, s string"),
        path3,
        partition_by=["bucket(4,id)"],
    )
    _mk(
        spark, [(2, "B2"), (5, "e")], "id bigint, s string"
    ).createOrReplaceTempView("ice_bsrc")
    merge_into_sql(
        spark,
        "MERGE INTO iceb USING ice_bsrc s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"iceb": ("iceberg", path3)},
    )
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path3).collect()
    ) == [(1, "a"), (2, "B2"), (5, "e")]
    # new files landed under the SPEC murmur3 bucket dirs and the
    # manifests carry the typed bucket partition values (pruning by
    # the transform evaluates driver-side)
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        _bucket_of,
    )

    import glob as _glob

    for key in (2, 5):
        b = _bucket_of(key, "long", 4)
        assert _glob.glob(path3 + f"/data/id_bucket={b}/*.parquet")
    pruned5 = read_iceberg(
        spark,
        path3,
        partition_filter={"id_bucket": str(_bucket_of(5, "long", 4))},
    )
    assert (5, "e") in {(r.id, r.s) for r in pruned5.collect()}


def test_merge_update_transform_partitioned_iceberg(spark, tmp_path):
    """Row-level DML over truncate[W]- and month-partitioned tables
    (round-11): updates that MOVE a row across transform partitions
    re-stage it under the new derived directory, merge-on-read keeps
    one snapshot, and the pre-DML snapshot stays AS-OF intact."""
    import datetime
    import glob as _glob

    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into,
        update_where,
    )

    # truncate[10] over long: value 23 lives in trunc dir 20
    path = str(tmp_path / "t")
    write_iceberg(
        _mk(spark, [(23, "a"), (7, "b")], "id bigint, s string"),
        path,
        partition_by=["truncate(10,id)"],
    )
    # partition-moving UPDATE: id 23 -> 41 (trunc 20 -> 40)
    sid = update_where(spark, "iceberg", path, "id = 23", {"id": "41"})
    assert sid is not None
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path).collect()
    ) == [(7, "b"), (41, "a")]
    assert _glob.glob(path + "/data/id_trunc=40/*.parquet")
    assert read_iceberg(spark, path, snapshot_id=1).count() == 2

    # month(d)-partitioned MERGE: insert + update in one MoR snapshot
    path2 = str(tmp_path / "tm")
    d1 = datetime.date(2024, 1, 15)
    d2 = datetime.date(2024, 3, 2)
    write_iceberg(
        _mk(spark, [(1, d1), (2, d2)], "id bigint, d date"),
        path2,
        partition_by=["month(d)"],
    )
    src = _mk(
        spark,
        [(2, datetime.date(2024, 4, 9)), (3, d1)],
        "id bigint, d date",
    )
    merge_into(
        spark,
        "iceberg",
        path2,
        src,
        "t.id = s.id",
        matched=[("update", None, {"d": "s.d"})],
        not_matched={"id": "s.id", "d": "s.d"},
    )
    got = sorted(
        (r.id, str(r.d)) for r in read_iceberg(spark, path2).collect()
    )
    assert got == [
        (1, "2024-01-15"),
        (2, "2024-04-09"),
        (3, "2024-01-15"),
    ]
    # months since epoch: 2024-04 = (2024-1970)*12 + 3 = 651
    assert _glob.glob(path2 + "/data/d_month=651/*.parquet")


def test_merge_not_matched_by_source(spark, tmp_path):
    """The delta-spark extension: WHEN NOT MATCHED BY SOURCE acts on
    TARGET rows absent from the source — the full-sync shape (source
    = the desired state; matched update + unmatched-insert +
    source-absent delete converge the table in one MERGE)."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into,
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)],
            "id bigint, price double",
        ),
        path,
    )
    src = _mk(spark, [(1, 11.0), (5, 50.0)], "id bigint, price double")
    v = merge_into(
        spark,
        "delta",
        path,
        src,
        "t.id = s.id",
        matched=[("update", None, {"price": "s.price"})],
        not_matched={"id": "s.id", "price": "s.price"},
        not_matched_by_source=[
            ("delete", "t.id >= 3"),
            ("update", None, {"price": "t.price + 1.0"}),
        ],
    )
    assert v == 1
    got = sorted((r.id, r.price) for r in read_delta(spark, path).collect())
    # 1 updated from source; 2 source-absent -> +1; 3,4 source-absent
    # and id>=3 -> deleted (first clause wins); 5 inserted
    assert got == [(1, 11.0), (2, 21.0), (5, 50.0)]
    # SQL surface, on iceberg too
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )

    path2 = str(tmp_path / "ti")
    write_iceberg(
        _mk(spark, [(1, "a"), (2, "b")], "id bigint, s string"), path2
    )
    _mk(spark, [(1, "A")], "id bigint, s string").createOrReplaceTempView(
        "sync_src"
    )
    merge_into_sql(
        spark,
        "MERGE INTO ice USING sync_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        {"ice": ("iceberg", path2)},
    )
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path2).collect()
    ) == [(1, "A")]


def test_update_where_both_formats_and_dml_sql(spark, tmp_path):
    """UPDATE completes the DML triad: Delta cow rewrites only touched
    files, Delta dv retires old positions + appends updated images in
    one commit (CDF gets pre/postimage rows), Iceberg updates
    merge-on-read in one snapshot; dml_sql routes
    UPDATE/DELETE/MERGE statements to the native writers."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        read_delta_cdf,
        set_delta_properties,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        iceberg_snapshots,
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        dml_sql,
        update_where,
    )

    # Delta cow
    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(i, float(i)) for i in range(6)],
            "id bigint, price double",
        ),
        path,
    )
    v = update_where(
        spark, "delta", path, "id < 2", {"price": "price + 100.0"}
    )
    assert v == 1
    got = sorted((r.id, r.price) for r in read_delta(spark, path).collect())
    assert got == [(0, 100.0), (1, 101.0)] + [
        (i, float(i)) for i in range(2, 6)
    ]
    assert read_delta(spark, path, version=0).count() == 6
    # no-match → no commit
    assert (
        update_where(spark, "delta", path, "id = 99", {"price": "0.0"})
        is None
    )

    # Delta dv mode + CDF
    path2 = str(tmp_path / "t2")
    write_delta(
        _mk(spark, [(1, 10.0), (2, 20.0)], "id bigint, price double"),
        path2,
    )
    set_delta_properties(
        spark, path2, {"delta.enableChangeDataFeed": "true"}
    )
    v2 = update_where(
        spark, "delta", path2, "id = 1", {"price": "99.0"}, mode="dv"
    )
    got2 = sorted(
        (r.id, r.price) for r in read_delta(spark, path2).collect()
    )
    assert got2 == [(1, 99.0), (2, 20.0)]
    feed, _ = read_delta_cdf(spark, path2, since_version=v2 - 1)
    assert sorted(
        (r.id, r.price, r._change_type) for r in feed.collect()
    ) == [(1, 10.0, "update_preimage"), (1, 99.0, "update_postimage")]

    # Iceberg MoR update, one snapshot
    path3 = str(tmp_path / "t3")
    write_iceberg(
        _mk(spark, [(1, "a"), (2, "b")], "id bigint, s string"), path3
    )
    sid = update_where(
        spark, "iceberg", path3, "id = 2", {"s": "upper(s)"}
    )
    assert sid is not None and len(iceberg_snapshots(path3)) == 2
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path3).collect()
    ) == [(1, "a"), (2, "B")]
    assert read_iceberg(spark, path3, snapshot_id=1).count() == 2

    # dml_sql routing: UPDATE + DELETE on both formats
    cat = {"d": ("delta", path), "i": ("iceberg", path3)}
    dml_sql(spark, "UPDATE d SET price = 0.0 WHERE id = 5", cat)
    assert (5, 0.0) in {
        (r.id, r.price) for r in read_delta(spark, path).collect()
    }
    dml_sql(spark, "DELETE FROM d WHERE id >= 4", cat)
    assert sorted(
        r.id for r in read_delta(spark, path).collect()
    ) == [0, 1, 2, 3]
    dml_sql(spark, "DELETE FROM i WHERE id = 1", cat)
    assert [
        (r.id, r.s) for r in read_iceberg(spark, path3).collect()
    ] == [(2, "B")]
    dml_sql(spark, "UPDATE i SET s = 'z'", cat)  # no WHERE = all rows
    assert [r.s for r in read_iceberg(spark, path3).collect()] == ["z"]
    with pytest.raises(ValueError, match="unsupported DML"):
        dml_sql(spark, "TRUNCATE TABLE d", cat)

    # INSERT INTO completes the verb set (round-11): VALUES with a
    # column list (missing columns NULL, values cast to target types),
    # and INSERT ... SELECT, on both formats
    dml_sql(
        spark,
        "INSERT INTO d (id, price) VALUES (100, 1.5), (101, 2.5)",
        cat,
    )
    assert {(100, 1.5), (101, 2.5)} <= {
        (r.id, r.price) for r in read_delta(spark, path).collect()
    }
    dml_sql(spark, "INSERT INTO d (id) VALUES (102)", cat)
    assert (102, None) in {
        (r.id, r.price) for r in read_delta(spark, path).collect()
    }
    dml_sql(
        spark,
        "INSERT INTO i SELECT 7 AS a, 'ins' AS b",
        cat,
    )
    assert (7, "ins") in {
        (r.id, r.s) for r in read_iceberg(spark, path3).collect()
    }
    with pytest.raises(ValueError, match="not in the table schema"):
        dml_sql(spark, "INSERT INTO d (nope) VALUES (1)", cat)
    with pytest.raises(ValueError, match="column"):
        dml_sql(spark, "INSERT INTO d VALUES (1)", cat)
    # INSERT OVERWRITE replaces the table contents atomically
    dml_sql(
        spark,
        "INSERT OVERWRITE TABLE i VALUES "
        "(CAST(1 AS BIGINT), 'only'), (CAST(2 AS BIGINT), 'rows')",
        cat,
    )
    assert sorted(
        (r.id, r.s) for r in read_iceberg(spark, path3).collect()
    ) == [(1, "only"), (2, "rows")]
    dml_sql(spark, "INSERT OVERWRITE d (id) SELECT CAST(42 AS BIGINT)", cat)
    assert [(r.id, r.price) for r in read_delta(spark, path).collect()] == [
        (42, None)
    ]


def test_update_iceberg_partitioned_row_migration(spark, tmp_path):
    """UPDATE on an identity-partitioned Iceberg table: updating the
    partition SOURCE column migrates the row to its new partition dir
    (the staging derives layout from the UPDATED value), pruning stays
    correct, and the pre-update snapshot is intact."""
    import glob as _glob

    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import update_where

    path = str(tmp_path / "t")
    write_iceberg(
        _mk(
            spark,
            [(1, "g1"), (2, "g1"), (3, "g2")],
            "id bigint, g string",
        ),
        path,
        partition_by=["g"],
    )
    sid = update_where(spark, "iceberg", path, "id = 2", {"g": "'g2'"})
    assert sid is not None
    assert sorted(
        (r.id, r.g) for r in read_iceberg(spark, path).collect()
    ) == [(1, "g1"), (2, "g2"), (3, "g2")]
    # the migrated row physically lives under g=g2 now
    assert sorted(
        r.id
        for r in read_iceberg(
            spark, path, partition_filter={"g": "g2"}
        ).collect()
    ) == [2, 3]
    assert len(_glob.glob(path + "/data/g=g2/*.parquet")) >= 2
    assert read_iceberg(spark, path, snapshot_id=1).count() == 3


def test_merge_delta_dv_mode_no_rewrite(spark, tmp_path):
    """mode='dv' MERGE: acted-on rows retire behind deletion vectors
    (the original data files survive by identity — no rewrite),
    update post-images + inserts append as new files, reads and AS-OF
    stay correct."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(i, float(i * 10)) for i in range(8)],
            "id bigint, price double",
        ),
        path,
    )
    before = _data_basenames(path)
    src = _mk(
        spark,
        [(0, 99.0, "U"), (1, 0.0, "D"), (9, 90.0, "I")],
        "id bigint, price double, op string",
    )
    v = merge_into(
        spark,
        "delta",
        path,
        src,
        "t.id = s.id",
        matched=[
            ("delete", "s.op = 'D'"),
            ("update", None, {"price": "s.price"}),
        ],
        not_matched={"id": "s.id", "price": "s.price"},
        mode="dv",
    )
    assert v == 1
    # every pre-merge file still on disk (DV-retired, not rewritten)
    assert before <= _data_basenames(path)
    acts = _log_actions(path, v)
    assert any(
        a.get("add", {}).get("deletionVector") for a in acts
    )
    got = sorted((r.id, r.price) for r in read_delta(spark, path).collect())
    assert got == [(0, 99.0)] + [
        (i, float(i * 10)) for i in range(2, 8)
    ] + [(9, 90.0)]
    assert read_delta(spark, path, version=0).count() == 8


def _data_basenames(path):
    import os as _os

    out = set()
    for root, _d, files in _os.walk(path):
        if "_delta_log" in root or "_change_data" in root:
            continue
        out |= {f for f in files if f.endswith(".parquet")}
    return out


def test_merge_insert_only_duplicate_source_exemption(spark, tmp_path):
    """ANSI / delta-spark insert-only exemption (r10 ADVICE): with no
    WHEN MATCHED clause, a target row matching multiple source rows is
    LEGAL — the MERGE must neither raise nor duplicate the kept rows
    when the matched file is rewritten by a NOT MATCHED BY SOURCE
    clause."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "t")
    write_delta(
        _mk(spark, [(1, 10.0), (2, 20.0)], "id bigint, price double"),
        path,
    )
    dup_src = _mk(
        spark,
        [(1, 101.0), (1, 102.0), (7, 70.0)],
        "id bigint, price double",
    )
    # pure insert-only: duplicates tolerated, only the new key inserts
    v = merge_into(
        spark,
        "delta",
        path,
        dup_src,
        "t.id = s.id",
        not_matched={"id": "s.id", "price": "s.price"},
    )
    assert v == 1
    assert sorted(
        (r.id, r.price) for r in read_delta(spark, path).collect()
    ) == [(1, 10.0), (2, 20.0), (7, 70.0)]
    # insert + NMBS: the cow rewrite of the touched file must keep the
    # dup-matched row exactly ONCE
    v2 = merge_into(
        spark,
        "delta",
        path,
        dup_src,
        "t.id = s.id",
        not_matched={"id": "s.id", "price": "s.price"},
        not_matched_by_source=[("delete", "t.id = 2")],
    )
    assert v2 == 2
    assert sorted(
        (r.id, r.price) for r in read_delta(spark, path).collect()
    ) == [(1, 10.0), (7, 70.0)]
    # WITH a matched clause the standard's cardinality rule still bites
    with pytest.raises(ValueError, match="cardinality"):
        merge_into(
            spark,
            "delta",
            path,
            dup_src,
            "t.id = s.id",
            matched=[("update", None, {"price": "s.price"})],
        )


def test_merge_sql_swapped_aliases_and_literals(spark, tmp_path):
    """_realias (r10 ADVICE): aliases colliding with the canonical
    t/s names rewrite correctly in one pass (AS s USING ... AS t must
    not swap target/source references), and string literals are never
    rewritten."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(
            spark,
            [(1, 10.0, "x"), (2, 20.0, "x")],
            "id bigint, price double, tag string",
        ),
        path,
    )
    _mk(
        spark, [(1, 100.0), (3, 300.0)], "id bigint, price double"
    ).createOrReplaceTempView("swap_src")
    # target aliased 's', source aliased 't' — the adversarial swap
    merge_into_sql(
        spark,
        "MERGE INTO tbl AS s USING swap_src AS t ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET price = s.price + t.price, "
        "tag = 's.kept' "
        "WHEN NOT MATCHED THEN INSERT (id, price, tag) "
        "VALUES (t.id, t.price, 't.lit')",
        {"tbl": ("delta", path)},
    )
    got = sorted(
        (r.id, r.price, r.tag) for r in read_delta(spark, path).collect()
    )
    # target.price + source.price = 110; literals survive verbatim
    assert got == [
        (1, 110.0, "s.kept"),
        (2, 20.0, "x"),
        (3, 300.0, "t.lit"),
    ]
    # identical aliases are rejected loudly
    with pytest.raises(ValueError, match="alias"):
        merge_into_sql(
            spark,
            "MERGE INTO tbl AS x USING swap_src AS x ON x.id = x.id "
            "WHEN MATCHED THEN DELETE",
            {"tbl": ("delta", path)},
        )


def test_delete_duplicate_basename_guard(spark, tmp_path):
    """Row-level Delta DML addresses files by scan basename; a foreign
    log with two live adds sharing a basename in different directories
    must raise, not rewrite the wrong file (r10 ADVICE)."""
    import shutil

    from census_asc5_data_pipeline_spark.sources.delta_io import (
        delete_delta_where,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_mk(spark, [(1,), (2,)], "id bigint"), path)
    acts = _log_actions(path, 0)
    add = next(a["add"] for a in acts if "add" in a)
    base = os.path.basename(add["path"])
    os.makedirs(os.path.join(path, "sub"), exist_ok=True)
    shutil.copy(
        os.path.join(path, add["path"]), os.path.join(path, "sub", base)
    )
    dup = dict(add, path=f"sub/{base}")
    with open(
        os.path.join(path, "_delta_log", f"{1:020d}.json"), "w"
    ) as fh:
        fh.write(json.dumps({"add": dup}) + "\n")
    with pytest.raises(ValueError, match="duplicate data-file basename"):
        delete_delta_where(spark, path, "id = 1")


def test_merge_schema_evolution_opt_in(spark, tmp_path):
    """evolve_schema=True (delta-spark's withSchemaEvolution): source
    columns absent from the target widen the Delta schema in the SAME
    commit — INSERT */UPDATE SET * carry them, pre-existing rows read
    NULL; without the opt-in, enforcement still raises; Iceberg gates."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into,
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(spark, [(1, 10.0), (2, 20.0)], "id bigint, price double"),
        path,
    )
    _mk(
        spark,
        [(2, 22.0, "eu"), (3, 30.0, "us")],
        "id bigint, price double, region string",
    ).createOrReplaceTempView("evo_src")
    # default: enforcement — the drifted INSERT * raises (region is
    # not a target column)
    with pytest.raises(Exception, match="region"):
        merge_into_sql(
            spark,
            "MERGE INTO t USING evo_src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT *",
            {"t": ("delta", path)},
        )
    # opt-in: the commit widens the schema atomically
    v = merge_into_sql(
        spark,
        "MERGE INTO t USING evo_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"t": ("delta", path)},
        evolve_schema=True,
    )
    assert v == 1
    back = read_delta(spark, path)
    assert back.columns == ["id", "price", "region"]
    assert sorted(
        ((r.id, r.price, r.region) for r in back.collect()), key=repr
    ) == sorted(
        [(1, 10.0, None), (2, 22.0, "eu"), (3, 30.0, "us")], key=repr
    )
    # the widened metaData landed in the SAME commit as the row changes
    acts = _log_actions(path, v)
    assert any("metaData" in a for a in acts)
    assert any("add" in a for a in acts)
    # AS-OF v0 still reads with the OLD schema
    old = read_delta(spark, path, version=0)
    assert old.columns == ["id", "price"]
    # engine API twin: new column via the dict form, dv mode
    v2 = merge_into(
        spark,
        "delta",
        path,
        _mk(spark, [(9, 90.0, "ap", True)],
            "id bigint, price double, region string, vip boolean"),
        "t.id = s.id",
        not_matched={
            "id": "s.id", "price": "s.price",
            "region": "s.region", "vip": "s.vip",
        },
        mode="dv",
        evolve_schema=True,
    )
    assert v2 == 2
    assert (9, 90.0, "ap", True) in {
        (r.id, r.price, r.region, r.vip)
        for r in read_delta(spark, path).collect()
    }
    # Iceberg evolves too (round-11): a NEW schema-id with fresh
    # field ids lands in the SAME metadata version as the MoR commit;
    # pre-evolution rows read NULL, the pre-merge snapshot is intact
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )

    path2 = str(tmp_path / "ti")
    write_iceberg(_mk(spark, [(1, "a")], "id bigint, s string"), path2)
    # without the opt-in, enforcement still raises
    with pytest.raises(ValueError, match="not in the table schema"):
        merge_into(
            spark,
            "iceberg",
            path2,
            _mk(spark, [(2, "b", 5)], "id bigint, s string, n bigint"),
            "t.id = s.id",
            not_matched={"id": "s.id", "s": "s.s", "n": "s.n"},
        )
    sid = merge_into(
        spark,
        "iceberg",
        path2,
        _mk(spark, [(1, "A", 7), (2, "b", 5)],
            "id bigint, s string, n bigint"),
        "t.id = s.id",
        matched=[("update", None, {"s": "s.s", "n": "s.n"})],
        not_matched={"id": "s.id", "s": "s.s", "n": "s.n"},
        evolve_schema=True,
    )
    assert sid is not None
    back = read_iceberg(spark, path2)
    assert back.columns == ["id", "s", "n"]
    assert sorted(
        ((r.id, r.s, r.n) for r in back.collect()), key=repr
    ) == sorted([(1, "A", 7), (2, "b", 5)], key=repr)
    # pre-merge snapshot reads with the OLD schema
    old_snap = read_iceberg(spark, path2, snapshot_id=1)
    assert [(r.id, r.s) for r in old_snap.collect()] == [(1, "a")]
    # the new metadata registers a second schema-id
    import json as _json

    hint = open(path2 + "/metadata/version-hint.text").read()
    imeta = _json.load(open(path2 + f"/metadata/v{hint}.metadata.json"))
    assert len(imeta["schemas"]) == 2
    assert imeta["current-schema-id"] == 1
    assert imeta["last-column-id"] == 3


def test_merge_conditional_insert_clauses(spark, tmp_path):
    """WHEN NOT MATCHED AND <cond> THEN INSERT (round-11): ordered
    insert clauses, first match wins, rows matching no condition are
    skipped — the ANSI surface the r10 parser still gated."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into,
        merge_into_sql,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(spark, [(1, 10.0, "x")], "id bigint, price double, tag string"),
        path,
    )
    _mk(
        spark,
        [(2, 20.0, "gold"), (3, 30.0, "base"), (4, 0.0, "skip")],
        "id bigint, price double, kind string",
    ).createOrReplaceTempView("cond_src")
    v = merge_into_sql(
        spark,
        "MERGE INTO t USING cond_src s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.kind = 'gold' THEN "
        "INSERT (id, price, tag) VALUES (s.id, s.price * 2, 'premium') "
        "WHEN NOT MATCHED AND s.kind = 'base' THEN "
        "INSERT (id, price) VALUES (s.id, s.price)",
        {"t": ("delta", path)},
    )
    assert v == 1
    got = sorted(
        ((r.id, r.price, r.tag) for r in read_delta(spark, path).collect()),
        key=repr,
    )
    # gold doubled + tagged, base inserted with NULL tag, 'skip'
    # matched no insert clause -> dropped
    assert got == sorted(
        [(1, 10.0, "x"), (2, 40.0, "premium"), (3, 30.0, None)], key=repr
    )
    # engine API: ordered list form, first clause wins on overlap
    v2 = merge_into(
        spark,
        "delta",
        path,
        _mk(spark, [(9, 90.0, "gold")],
            "id bigint, price double, kind string"),
        "t.id = s.id",
        not_matched=[
            ("s.kind = 'gold'", {"id": "s.id", "tag": "'first'"}),
            (None, {"id": "s.id", "tag": "'fallback'"}),
        ],
    )
    assert v2 == 2
    assert (9, None, "first") in {
        (r.id, r.price, r.tag) for r in read_delta(spark, path).collect()
    }


def test_create_table_ddl(spark, tmp_path):
    """CREATE TABLE through dml_sql (round-11): empty-table DDL with a
    column list (commit 0 carries only the schema), CTAS, PARTITIONED
    BY (iceberg transforms included), IF NOT EXISTS, and catalog
    registration so follow-up DML resolves the new name."""
    import glob as _glob

    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    cat: dict = {}
    p1 = str(tmp_path / "t1")
    v = dml_sql(
        spark,
        f"CREATE TABLE sales (id BIGINT, price DECIMAL(10,2), "
        f"day DATE) USING delta LOCATION '{p1}'",
        cat,
    )
    assert v == 0 and cat["sales"] == ("delta", p1)
    empty = read_delta(spark, p1)
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "bigint", "decimal(10,2)", "date",
    ]
    # the new name resolves for follow-up DML in the same catalog
    dml_sql(
        spark,
        "INSERT INTO sales (id, price) VALUES (1, 9.99)",
        cat,
    )
    assert [(r.id, str(r.price)) for r in read_delta(spark, p1).collect()] == [
        (1, "9.99")
    ]
    # IF NOT EXISTS on an existing table: no-op, still registered
    assert (
        dml_sql(
            spark,
            f"CREATE TABLE IF NOT EXISTS sales (id BIGINT) "
            f"USING delta LOCATION '{p1}'",
            cat,
        )
        is None
    )
    with pytest.raises(ValueError, match="already exists"):
        dml_sql(
            spark,
            f"CREATE TABLE sales (id BIGINT) USING delta LOCATION '{p1}'",
            cat,
        )
    # CTAS on iceberg with a bucket transform partition
    p2 = str(tmp_path / "t2")
    sid = dml_sql(
        spark,
        f"CREATE TABLE ice USING iceberg PARTITIONED BY (bucket(4,id)) "
        f"LOCATION '{p2}' AS SELECT CAST(id AS BIGINT) AS id, "
        f"CAST(id * 2 AS BIGINT) AS dbl FROM range(8)",
        cat,
    )
    assert sid is not None and cat["ice"] == ("iceberg", p2)
    assert sorted(
        (r.id, r.dbl) for r in read_iceberg(spark, p2).collect()
    ) == [(i, i * 2) for i in range(8)]
    assert _glob.glob(p2 + "/data/id_bucket=*/*.parquet")
    # missing LOCATION gates loudly
    with pytest.raises(ValueError, match="LOCATION"):
        dml_sql(spark, "CREATE TABLE nope (id BIGINT) USING delta", cat)


def test_merge_sql_backtick_aliases_and_escaped_quotes(spark, tmp_path):
    """_realias (r11 ADVICE): backtick-quoted alias references
    (`s`.id) rewrite like bare ones, backtick-quoted NON-alias
    identifiers pass through untouched, and string literals with
    backslash-escaped or doubled quotes are copied verbatim (an
    escaped quote must not end the literal early and expose its tail
    to rewriting)."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import (
        merge_into_sql,
    )

    path = str(tmp_path / "bt")
    write_delta(
        _mk(
            spark,
            [(1, 10.0, "x"), (2, 20.0, "x")],
            "id bigint, price double, tag string",
        ),
        path,
    )
    _mk(
        spark, [(1, 100.0), (3, 300.0)], "id bigint, price double"
    ).createOrReplaceTempView("bt_src")
    merge_into_sql(
        spark,
        "MERGE INTO tbl AS tgt USING bt_src AS src "
        "ON `tgt`.id = `src`.`id` "
        "WHEN MATCHED THEN UPDATE SET "
        "price = `tgt`.price + src.price, tag = 'src.q\\'uote' "
        "WHEN NOT MATCHED THEN INSERT (id, price, tag) "
        "VALUES (`src`.id, src.price, 'tgt.d''ouble')",
        {"tbl": ("delta", path)},
    )
    got = sorted(
        (r.id, r.price, r.tag) for r in read_delta(spark, path).collect()
    )
    assert got == [
        (1, 110.0, "src.q'uote"),
        (2, 20.0, "x"),
        (3, 300.0, "tgt.d'ouble"),
    ]


def test_merge_evolve_schema_noop_still_widens(spark, tmp_path):
    """merge_into(evolve_schema=True) whose row effect is a no-op must
    still commit the widened metaData (r11 ADVICE: a follow-up write
    relying on the evolved schema otherwise sees the old one with no
    error)."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    path = str(tmp_path / "ev")
    write_delta(_mk(spark, [(1, 10)], "id bigint, v bigint"), path)
    # source matches row 1 with an update that keeps values identical?
    # No — make it a TRUE no-op: condition matches nothing, no insert
    src = _mk(spark, [(1, 10, "n")], "id bigint, v bigint, note string")
    ver = merge_into(
        spark,
        "delta",
        path,
        src,
        on="t.id = s.id",
        matched=[("update", "1 = 0", {"v": "s.v"})],
        evolve_schema=True,
    )
    assert ver == 1  # metaData-only commit, not None
    back = read_delta(spark, path)
    assert "note" in back.columns
    assert [(r.id, r.v, r.note) for r in back.collect()] == [(1, 10, None)]
    # follow-up append in the evolved schema works
    write_delta(
        _mk(spark, [(2, 20, "x")], "id bigint, v bigint, note string"),
        path,
    )
    assert sorted(
        (r.id, r.v, r.note) for r in read_delta(spark, path).collect()
    ) == [(1, 10, None), (2, 20, "x")]


def test_merge_evolve_schema_on_column_mapped_table(spark, tmp_path):
    """r16 (the overwriteSchema remint's additive twin): MERGE
    withSchemaEvolution on a MAPPED table mints fresh
    physicalName/columnMapping.id per NEW column above maxColumnId,
    bumps it in the same commit, and stages under the extended
    mapping — old rows read NULL, follow-up DML green."""
    import json as _json

    import pyspark.sql.functions as F

    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    t = str(tmp_path / "t")
    d.write_delta(
        spark.range(4)
        .coalesce(1)
        .select(F.col("id"), F.lit("a").alias("v")),
        t,
        configuration={"delta.columnMapping.mode": "name"},
    )
    src = spark.createDataFrame(
        [(2, "B", 9.5), (10, "new", 1.5)],
        "id long, v string, score double",
    )
    merge_into(
        spark,
        "delta",
        t,
        src,
        "t.id = s.id",
        matched=[("update", None, {"v": "s.v", "score": "s.score"})],
        not_matched={"id": "s.id", "v": "s.v", "score": "s.score"},
        evolve_schema=True,
    )
    out = d.read_delta(spark, t)
    assert out.columns == ["id", "v", "score"]
    assert sorted((r.id, r.v, r.score) for r in out.collect()) == [
        (0, "a", None),
        (1, "a", None),
        (2, "B", 9.5),
        (3, "a", None),
        (10, "new", 1.5),
    ]
    _p, meta, adds, _tx = d._replay(spark, t, None)
    sch = _json.loads(meta["schemaString"])
    new_f = sch["fields"][-1]
    assert new_f["name"] == "score"
    assert new_f["metadata"]["delta.columnMapping.id"] == 3
    phys = new_f["metadata"]["delta.columnMapping.physicalName"]
    assert phys.startswith("col-")
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    # the staged rewrite carries the NEW physical column name
    import os as _os
    import urllib.parse as _up

    import pyarrow.parquet as _pq

    assert any(
        phys
        in _pq.ParquetFile(
            _os.path.join(t, _up.unquote(a["path"]))
        ).schema_arrow.names
        for a in adds.values()
    )
    # follow-up DML over the evolved mapped schema
    d.delete_delta_where(spark, t, "id = 10", mode="cow")
    assert d.read_delta(spark, t).count() == 4


def test_nonempty_merge_counts_ride_observe(spark, tmp_path, monkeypatch):
    """The cardinality check reads its two observe() counts through
    the private ``Observation._jo.getRow()`` handle (``merge._obs_n``),
    and so does the insert count of a MERGE that touches a file.
    A non-empty Delta MERGE must get all three from that fast path,
    never the probe-job fallback, so a pyspark upgrade that renames
    or empties the handle fails here instead of silently adding a
    Spark job to every MERGE."""
    from census_asc5_data_pipeline_spark.sources import merge as m
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        _mk(spark, [(i, float(i)) for i in range(6)], "id bigint, v double"),
        path,
    )
    seen: list = []
    real = m._obs_n

    def spy(obs):
        n = real(obs)
        seen.append(n)
        return n

    monkeypatch.setattr(m, "_obs_n", spy)
    m.merge_into(
        spark,
        "delta",
        path,
        _mk(spark, [(1, 10.0), (2, 20.0), (9, 90.0)], "id bigint, v double"),
        "t.id = s.id",
        matched=[("update", None, {"v": "s.v"})],
        not_matched={"id": "s.id", "v": "s.v"},
    )
    # (tagged, scan) counts: both collected, and equal — no fan-out;
    # then the insert count, read from the staging write's observe()
    assert len(seen) == 3 and None not in seen, seen
    assert seen[0] == seen[1] > 0
    assert seen[2] == 1
    got = sorted((r.id, r.v) for r in read_delta(spark, path).collect())
    assert got == [
        (0, 0.0), (1, 10.0), (2, 20.0), (3, 3.0), (4, 4.0), (5, 5.0),
        (9, 90.0),
    ]


# ------------------------------------------- source-key file pruning


def _eight_file_table(spark, fmt, path, conf=None):
    """80 rows, even ids 0..158, one file per 10 ids."""
    import pyspark.sql.functions as F

    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    df = (
        spark.range(0, 160, 2)
        .repartitionByRange(8, "id")
        # nullable id: the all-NULL-key source inserts NULL ids
        .select(
            F.expr("nullif(id, -1)").alias("id"), (F.col("id") % 5).alias("v")
        )
    )
    if fmt == "delta":
        d.write_delta(df, path, configuration=conf)
        assert len(d._replay(spark, path, None)[2]) == 8
    else:
        ice.write_iceberg(df, path)
        _v, meta = ice._current_metadata(path)
        assert len(ice._snapshot_files(path, meta, None)[0]) == 8


def _read(spark, fmt, path):
    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    df = (d.read_delta if fmt == "delta" else ice.read_iceberg)(spark, path)
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda r: [(x is None, 0 if x is None else x) for x in r],
    )


def _merge_pruned_and_not(spark, tmp_path, monkeypatch, fmt, source, on,
                          conf=None, **kw):
    """Run one MERGE on two fresh copies of the 8-file table, with
    and without source-key pruning. Returns (rows, rows unpruned,
    files scanned, files scanned unpruned); a MERGE that scans no
    file reports 0."""
    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
    from census_asc5_data_pipeline_spark.sources import merge as m

    scanned: list[int] = []

    def spy(real, idx):
        def wrapped(*a, **k):
            scanned.append(len(a[idx]))
            return real(*a, **k)

        return wrapped

    if fmt == "delta":
        monkeypatch.setattr(d, "_scan_adds", spy(d._scan_adds, 4))
    else:
        monkeypatch.setattr(
            ice, "_scan_with_deletes", spy(ice._scan_with_deletes, 3)
        )
    out = []
    for name, prune in (("pruned", True), ("unpruned", False)):
        path = str(tmp_path / f"{fmt}_{name}")
        _eight_file_table(spark, fmt, path, conf)
        scanned.clear()
        with monkeypatch.context() as mp:
            if not prune:
                mp.setattr(
                    m, "_merge_candidates", lambda *a: a[4]  # live
                )
            m.merge_into(spark, fmt, path, source, on, **kw)
        n = sum(scanned)
        out.append((_read(spark, fmt, path), n))
    (rows, n), (rows0, n0) = out
    return rows, rows0, n, n0


_UPSERT = dict(
    matched=[("delete", "s.op = 'D'"), ("update", None, {"v": "s.v"})],
    not_matched={"id": "s.id", "v": "s.v"},
)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_scans_only_files_the_source_keys_reach(
    spark, tmp_path, monkeypatch, fmt
):
    """Source keys 21..24 fall inside one file's [20, 38] range: the
    tagging join, the insert anti-join and the rewrite scan that one
    file, and the table ends as an unpruned MERGE leaves it."""
    src = _mk(
        spark,
        [(21, 9, "I"), (22, 9, "U"), (24, 9, "D")],
        "id bigint, v bigint, op string",
    )
    rows, rows0, n, n0 = _merge_pruned_and_not(
        spark, tmp_path, monkeypatch, fmt, src, "t.id = s.id", **_UPSERT
    )
    assert (n, n0) == (1, 8)
    assert rows == rows0
    by_id = dict(rows)
    assert by_id[21] == 9 and by_id[22] == 9 and 24 not in by_id
    assert len(rows) == 80


def test_merge_not_matched_by_source_still_reaches_every_file(
    spark, tmp_path, monkeypatch
):
    """WHEN NOT MATCHED BY SOURCE acts on target rows outside the
    source key range, so nothing is pruned."""
    src = _mk(spark, [(22, 9, "U")], "id bigint, v bigint, op string")
    rows, rows0, n, n0 = _merge_pruned_and_not(
        spark, tmp_path, monkeypatch, "delta", src, "t.id = s.id",
        matched=[("update", None, {"v": "s.v"})],
        not_matched_by_source=[("delete", "t.id >= 150")],
    )
    assert n == n0 == 8
    assert rows == rows0
    assert max(i for i, _v in rows) == 148 and dict(rows)[22] == 9


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_all_null_source_keys_insert_everything(
    spark, tmp_path, monkeypatch, fmt
):
    """min() of an all-NULL key is NULL: no target row can match, no
    file is scanned, and every source row goes through the insert."""
    src = _mk(
        spark,
        [(None, 7, "I"), (None, 8, "U")],
        "id bigint, v bigint, op string",
    )
    rows, rows0, n, n0 = _merge_pruned_and_not(
        spark, tmp_path, monkeypatch, fmt, src, "t.id = s.id", **_UPSERT
    )
    assert (n, n0) == (0, 8)
    assert rows == rows0
    assert sorted(v for i, v in rows if i is None) == [7, 8]


@pytest.mark.parametrize(
    "on, cols, conf",
    [
        ("t.id = s.id + 1", "id bigint", None),
        ("t.id = s.id", "id string", None),
        ("t.id <=> s.id", "id bigint", None),
        ("t.id = s.id OR t.v = s.v", "id bigint", None),
        # no min/max stats for any column: pruning has nothing to use
        (
            "t.id = s.id",
            "id bigint",
            {"delta.dataSkippingNumIndexedCols": "0"},
        ),
    ],
)
def test_merge_ineligible_on_does_not_prune(
    spark, tmp_path, monkeypatch, on, cols, conf
):
    """An expression key, a string key against an int key, the
    null-safe ``<=>``, a top-level OR and a table without key stats
    all keep every live file, with unchanged results."""
    keys = ["21", "22"] if "string" in cols else [21, 22]
    src = _mk(
        spark, [(k, 9, "U") for k in keys], f"{cols}, v bigint, op string"
    )
    rows, rows0, n, n0 = _merge_pruned_and_not(
        spark, tmp_path, monkeypatch, "delta", src, on, conf=conf,
        matched=[("update", None, {"v": "s.v"})],
    )
    assert n == n0 == 8
    assert rows == rows0


def test_merge_evolve_schema_pruned_to_nothing_still_widens(
    spark, tmp_path, monkeypatch
):
    """A MERGE whose source keys reach no file scans nothing, but the
    evolve_schema widening still commits (the no-op decision uses the
    unpruned live set)."""
    src = _mk(spark, [(1001, 9, "n")], "id bigint, v bigint, note string")
    rows, rows0, n, n0 = _merge_pruned_and_not(
        spark, tmp_path, monkeypatch, "delta", src, "t.id = s.id",
        matched=[("update", None, {"v": "s.v"})],
        evolve_schema=True,
    )
    assert (n, n0) == (0, 8)
    assert rows == rows0
    assert len(rows) == 80 and all(len(r) == 3 for r in rows)

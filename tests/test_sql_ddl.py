"""Round-12 verdict #4/#5: SQL statement completers (ALTER TABLE ADD
COLUMN(S) / SET TBLPROPERTIES, OPTIMIZE [ZORDER BY], VACUUM, CREATE
TABLE ... TBLPROPERTIES) over both formats, and writer-side Delta
column-mapping table CREATION (the engine can now ORIGINATE mapped
tables: create → append → MERGE → CDF stream entirely in-engine)."""

from __future__ import annotations

import glob
import json
import os

import pytest


def _mk(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl)


def test_alter_add_columns_both_formats(spark, tmp_path):
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    dp = str(tmp_path / "d")
    ip = str(tmp_path / "i")
    write_delta(_mk(spark, [(1, 10.0)], "id bigint, v double"), dp)
    write_iceberg(_mk(spark, [(1, 10.0)], "id bigint, v double"), ip)
    cat = {"d": ("delta", dp), "i": ("iceberg", ip)}

    assert dml_sql(
        spark, "ALTER TABLE d ADD COLUMNS (note string, score double)", cat
    ) == 1
    assert dml_sql(
        spark, "ALTER TABLE i ADD COLUMN note string", cat
    ) is not None
    back_d = read_delta(spark, dp)
    assert back_d.columns == ["id", "v", "note", "score"]
    assert [(r.id, r.v, r.note, r.score) for r in back_d.collect()] == [
        (1, 10.0, None, None)
    ]
    back_i = read_iceberg(spark, ip)
    assert back_i.columns == ["id", "v", "note"]
    assert [r.note for r in back_i.collect()] == [None]
    # follow-up INSERT in the evolved schema, both formats
    dml_sql(
        spark,
        "INSERT INTO d VALUES (2, 20.0, 'x', 1.5)",
        cat,
    )
    dml_sql(spark, "INSERT INTO i VALUES (2, 20.0, 'y')", cat)
    assert sorted(
        (r.id, r.note) for r in read_delta(spark, dp).collect()
    ) == [(1, None), (2, "x")]
    assert sorted(
        (r.id, r.note) for r in read_iceberg(spark, ip).collect()
    ) == [(1, None), (2, "y")]
    # duplicate column names raise on both
    with pytest.raises(ValueError, match="already exist"):
        dml_sql(spark, "ALTER TABLE d ADD COLUMNS (note string)", cat)
    with pytest.raises(ValueError, match="already exist"):
        dml_sql(spark, "ALTER TABLE i ADD COLUMNS (note string)", cat)


def test_alter_set_tblproperties_and_vacuum_optimize(spark, tmp_path):
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        delta_versions,
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        _current_metadata,
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    dp = str(tmp_path / "d")
    ip = str(tmp_path / "i")
    for i in range(3):  # several small files so OPTIMIZE has work
        write_delta(
            _mk(spark, [(i, float(i))], "id bigint, v double").coalesce(1),
            dp,
        )
        write_iceberg(
            _mk(spark, [(i, float(i))], "id bigint, v double").coalesce(1),
            ip,
        )
    cat = {"d": ("delta", dp), "i": ("iceberg", ip)}

    dml_sql(
        spark,
        "ALTER TABLE d SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed'='true')",
        cat,
    )
    dml_sql(
        spark, "ALTER TABLE i SET TBLPROPERTIES ('owner'='analytics')", cat
    )
    from census_asc5_data_pipeline_spark.sources import delta_io as d

    _p, meta, _a, _t = d._replay(spark, dp, None)
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    _v, imeta = _current_metadata(ip)
    assert imeta["properties"]["owner"] == "analytics"

    # OPTIMIZE compacts; data unchanged
    v_opt = dml_sql(spark, "OPTIMIZE d", cat)
    assert v_opt is not None
    s_opt = dml_sql(spark, "OPTIMIZE i ZORDER BY (id, v)", cat)
    assert s_opt is not None
    assert sorted(r.id for r in read_delta(spark, dp).collect()) == [0, 1, 2]
    assert sorted(r.id for r in read_iceberg(spark, ip).collect()) == [
        0, 1, 2,
    ]

    # VACUUM prunes history beyond the retained window
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        create_checkpoint,
    )

    create_checkpoint(spark, dp)
    before = len(delta_versions(dp))
    dml_sql(spark, "VACUUM d RETAIN 1 VERSIONS", cat)
    dml_sql(spark, "VACUUM i RETAIN 1 VERSIONS", cat)
    assert len(delta_versions(dp)) <= before
    assert sorted(r.id for r in read_delta(spark, dp).collect()) == [0, 1, 2]
    assert sorted(r.id for r in read_iceberg(spark, ip).collect()) == [
        0, 1, 2,
    ]
    # bad property syntax raises
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        dml_sql(spark, "ALTER TABLE d SET TBLPROPERTIES (k=v)", cat)


def test_create_table_tblproperties_cdf_from_birth(spark, tmp_path):
    """CREATE TABLE ... TBLPROPERTIES enables CDF at creation: the
    very first DML after CREATE is visible in the change feed —
    previously properties could only be set AFTER version 0."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta_cdf,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "t")
    cat: dict = {}
    dml_sql(
        spark,
        f"CREATE TABLE ev (id BIGINT, v DOUBLE) USING delta "
        f"LOCATION '{p}' "
        f"TBLPROPERTIES ('delta.enableChangeDataFeed'='true')",
        cat,
    )
    dml_sql(spark, "INSERT INTO ev VALUES (1, 1.5), (2, 2.5)", cat)
    dml_sql(spark, "DELETE FROM ev WHERE id = 1", cat)
    cdf, _last = read_delta_cdf(spark, p, since_version=0)
    types = sorted(
        (r.id, r._change_type) for r in cdf.collect()
    )
    assert types == [(1, "delete"), (1, "insert"), (2, "insert")]


def test_column_mapping_creation_roundtrip(spark, tmp_path):
    """Writer-side column-mapping creation (verdict #5): create →
    append → ALTER ADD COLUMN → MERGE → CDF read, entirely in-engine.
    The log shape is the spec's: protocol (2,5), per-field
    delta.columnMapping.id/physicalName metadata, parquet + add
    partitionValues under PHYSICAL names."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        add_delta_columns,
        read_delta,
        read_delta_cdf,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import merge_into

    p = str(tmp_path / "m")
    df = _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")],
             "id bigint, v double, cat string")
    write_delta(
        df,
        p,
        partition_by=["cat"],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
        },
    )
    # log shape: protocol (2,5); fields carry minted physical names
    actions = [
        json.loads(line)
        for line in open(os.path.join(p, "_delta_log", f"{0:020d}.json"))
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (2, 5)
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    fields = json.loads(meta["schemaString"])["fields"]
    phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in fields
    }
    assert all(v.startswith("col-") for v in phys.values())
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    add = next(a["add"] for a in actions if "add" in a)
    # partitionValues keyed by the PHYSICAL name of cat
    assert set(add["partitionValues"]) == {phys["cat"]}
    # data files store physical column names
    f0 = glob.glob(p + "/**/*.parquet", recursive=True)[0]
    import pyarrow.parquet as pq

    assert set(pq.read_schema(f0).names) <= set(phys.values())

    back = read_delta(spark, p)
    assert back.columns == ["id", "v", "cat"]
    assert sorted((r.id, r.v, r.cat) for r in back.collect()) == [
        (1, 10.0, "a"), (2, 20.0, "b"),
    ]
    # append + ADD COLUMN (mints a fresh physical name) + MERGE
    write_delta(_mk(spark, [(3, 30.0, "a")],
                    "id bigint, v double, cat string"), p)
    add_delta_columns(spark, p, "note string")
    src = _mk(spark, [(2, 222.0, "b", "upd"), (4, 40.0, "c", "new")],
              "id bigint, v double, cat string, note string")
    merge_into(
        spark, "delta", p, src, on="t.id = s.id",
        matched=[("update", None, {"v": "s.v", "note": "s.note"})],
        not_matched={"id": "s.id", "v": "s.v", "cat": "s.cat",
                     "note": "s.note"},
    )
    got = sorted(
        (r.id, r.v, r.cat, r.note) for r in read_delta(spark, p).collect()
    )
    assert got == [
        (1, 10.0, "a", None),
        (2, 222.0, "b", "upd"),
        (3, 30.0, "a", None),
        (4, 40.0, "c", "new"),
    ]
    # CDF reads back through the physical→logical remap
    cdf, _last = read_delta_cdf(spark, p, since_version=2)
    kinds = sorted((r.id, r._change_type) for r in cdf.collect())
    assert kinds == [
        (2, "update_postimage"), (2, "update_preimage"), (4, "insert"),
    ]


def test_column_mapping_creation_via_sql_and_stream(spark, tmp_path):
    """The same surface through SQL + the delta_cdf STREAM source —
    the full verdict-#5 done-criterion (create→append→MERGE→
    delta_cdf-stream round-trip entirely in-engine)."""
    from census_asc5_data_pipeline_spark.sources import delta_stream_source
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    delta_stream_source.register(spark)
    p = str(tmp_path / "s")
    cat: dict = {}
    dml_sql(
        spark,
        f"CREATE TABLE mt (id BIGINT, v DOUBLE) USING delta "
        f"LOCATION '{p}' TBLPROPERTIES "
        f"('delta.columnMapping.mode'='name', "
        f"'delta.enableChangeDataFeed'='true')",
        cat,
    )
    dml_sql(spark, "INSERT INTO mt VALUES (1, 1.0), (2, 2.0)", cat)
    dml_sql(
        spark,
        "MERGE INTO mt t USING (SELECT 2 AS id, 22.0 AS v) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
        cat,
    )
    got: list[tuple] = []

    def sink(batch_df, _eid):
        got.extend(
            (r.id, r.v, r._change_type) for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("delta_cdf")
        .option("path", p)
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(got) == [
        (1, 1.0, "insert"),
        (2, 2.0, "insert"),
        (2, 2.0, "update_preimage"),
        (2, 22.0, "update_postimage"),
    ]


def test_table_changes_sql_surface(spark, tmp_path):
    """table_changes / register_table_changes_view (verdict #7): the
    change feed is reachable from plain SQL, row-identical to the
    Python readers, on BOTH formats; delta start is INCLUSIVE
    (delta-spark table_changes semantics)."""
    from census_asc5_data_pipeline_spark.plans.sql_views import (
        register_table_changes_view,
        table_changes,
    )
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        delete_delta_where,
        read_delta_cdf,
        set_delta_properties,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        delete_iceberg_positions,
        read_iceberg_changes,
        write_iceberg,
    )

    dp = str(tmp_path / "d")
    write_delta(_mk(spark, [(1, 1.0), (2, 2.0)], "id bigint, v double"), dp)
    set_delta_properties(
        spark, dp, {"delta.enableChangeDataFeed": "true"}
    )
    write_delta(_mk(spark, [(3, 3.0)], "id bigint, v double"), dp)
    delete_delta_where(spark, dp, "id = 1", mode="dv")  # v3
    # inclusive start: version 2 (the append) onward
    vname = register_table_changes_view(spark, "dtab", "delta", dp, 2)
    got_sql = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.sql(f"SELECT * FROM {vname}").collect()
    )
    py_df, _ = read_delta_cdf(spark, dp, since_version=1)
    got_py = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in py_df.collect()
    )
    assert got_sql == got_py
    assert got_sql == [(1, "delete", 3), (3, "insert", 2)]
    # end bound trims the range
    trimmed = table_changes(spark, "delta", dp, 2, end=2)
    assert [(r.id, r._change_type) for r in trimmed.collect()] == [
        (3, "insert")
    ]

    ip = str(tmp_path / "i")
    write_iceberg(_mk(spark, [(1, 1.0), (2, 2.0)], "id bigint, v double"), ip)
    write_iceberg(_mk(spark, [(3, 3.0)], "id bigint, v double"), ip)
    delete_iceberg_positions(spark, ip, "id = 1")
    vname = register_table_changes_view(spark, "itab", "iceberg", ip, 0)
    got_sql = sorted(
        (r.id, r._change_type)
        for r in spark.sql(f"SELECT * FROM {vname}").collect()
    )
    py_df, _ = read_iceberg_changes(spark, ip)
    got_py = sorted(
        (r.id, r._change_type) for r in py_df.collect()
    )
    assert got_sql == got_py
    assert got_sql == [
        (1, "delete"), (1, "insert"), (2, "insert"), (3, "insert"),
    ]


def test_rename_drop_columns_delta_mapped(spark, tmp_path):
    """RENAME/DROP COLUMN on a column-mapped Delta table are pure
    metaData commits: the field keeps its physical name (old files
    keep serving a renamed column), a dropped column disappears from
    scans, and RE-ADDING the same name mints a FRESH physical name so
    old bytes stay hidden (NULL). Unmapped tables gate loudly."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "m")
    write_delta(
        _mk(spark, [(1, 10.0, "x"), (2, 20.0, "y")],
            "id bigint, v double, tag string"),
        p,
        configuration={"delta.columnMapping.mode": "name"},
    )
    cat = {"t": ("delta", p)}
    dml_sql(spark, "ALTER TABLE t RENAME COLUMN v TO price", cat)
    back = read_delta(spark, p)
    assert back.columns == ["id", "price", "tag"]
    assert sorted((r.id, r.price) for r in back.collect()) == [
        (1, 10.0), (2, 20.0),
    ]
    dml_sql(spark, "ALTER TABLE t DROP COLUMN tag", cat)
    assert read_delta(spark, p).columns == ["id", "price"]
    # re-add the dropped name: fresh physical name → old bytes hidden
    dml_sql(spark, "ALTER TABLE t ADD COLUMNS (tag string)", cat)
    got = sorted(
        (r.id, r.price, r.tag) for r in read_delta(spark, p).collect()
    )
    assert got == [(1, 10.0, None), (2, 20.0, None)]
    # appends in the renamed schema land correctly
    write_delta(
        _mk(spark, [(3, 30.0, "z")], "id bigint, price double, tag string"),
        p,
    )
    assert sorted(
        (r.id, r.price, r.tag) for r in read_delta(spark, p).collect()
    ) == [(1, 10.0, None), (2, 20.0, None), (3, 30.0, "z")]

    # unmapped tables refuse (by-name parquet resolution would null)
    p2 = str(tmp_path / "u")
    write_delta(_mk(spark, [(1, 1.0)], "id bigint, v double"), p2)
    cat2 = {"u": ("delta", p2)}
    with pytest.raises(NotImplementedError, match="columnMapping"):
        dml_sql(spark, "ALTER TABLE u RENAME COLUMN v TO w", cat2)
    with pytest.raises(NotImplementedError, match="columnMapping"):
        dml_sql(spark, "ALTER TABLE u DROP COLUMN v", cat2)


def test_rename_drop_columns_delta_constraint_guard(spark, tmp_path):
    """Renaming/dropping a column a CHECK constraint references
    refuses (the constraint expression would orphan)."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "c")
    write_delta(
        _mk(spark, [(1, 5.0)], "id bigint, v double"),
        p,
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.constraints.pos": "v > 0",
        },
    )
    cat = {"t": ("delta", p)}
    with pytest.raises(ValueError, match="constraint"):
        dml_sql(spark, "ALTER TABLE t RENAME COLUMN v TO w", cat)
    with pytest.raises(ValueError, match="constraint"):
        dml_sql(spark, "ALTER TABLE t DROP COLUMN v", cat)


def test_rename_drop_columns_iceberg(spark, tmp_path):
    """Iceberg RENAME keeps the field ID under the new name (old data
    files serve it through parquet-footer field-id resolution); DROP
    registers a schema without the field; partition sources refuse."""
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        read_iceberg,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "i")
    write_iceberg(
        _mk(spark, [(1, 10.0, "x"), (2, 20.0, "y")],
            "id bigint, v double, tag string"),
        p,
    )
    cat = {"t": ("iceberg", p)}
    dml_sql(spark, "ALTER TABLE t RENAME COLUMN v TO price", cat)
    back = read_iceberg(spark, p)
    assert back.columns == ["id", "price", "tag"]
    assert sorted((r.id, r.price) for r in back.collect()) == [
        (1, 10.0), (2, 20.0),
    ]
    dml_sql(spark, "ALTER TABLE t DROP COLUMN tag", cat)
    assert read_iceberg(spark, p).columns == ["id", "price"]

    # partition source columns refuse to drop
    p2 = str(tmp_path / "ip")
    write_iceberg(
        _mk(spark, [(1, "a")], "id bigint, s string"),
        p2,
        partition_by=["s"],
    )
    cat2 = {"t2": ("iceberg", p2)}
    with pytest.raises(ValueError, match="partition source"):
        dml_sql(spark, "ALTER TABLE t2 DROP COLUMN s", cat2)


def test_checkpoint_interval_auto_checkpoints(spark, tmp_path):
    """delta.checkpointInterval: commits at versions divisible by the
    interval auto-write a classic checkpoint + _last_checkpoint (the
    delta-spark writer cadence) — log replay stays O(tail) without
    manual create_checkpoint calls; DML verbs participate too."""
    import os as _os

    from census_asc5_data_pipeline_spark.sources.delta_io import (
        delete_delta_where,
        read_delta,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "t")
    cat: dict = {}
    dml_sql(
        spark,
        f"CREATE TABLE ci (id BIGINT, v DOUBLE) USING delta "
        f"LOCATION '{p}' TBLPROPERTIES ('delta.checkpointInterval'='2')",
        cat,
    )
    dml_sql(spark, "INSERT INTO ci VALUES (1, 1.0), (2, 2.0)", cat)  # v1
    write_delta(
        _mk(spark, [(3, 3.0)], "id bigint, v double"), p
    )  # v2 → checkpoint
    log = _os.path.join(p, "_delta_log")
    assert _os.path.exists(
        _os.path.join(log, f"{2:020d}.checkpoint.parquet")
    )
    delete_delta_where(spark, p, "id = 1")  # v3: no checkpoint
    assert not _os.path.exists(
        _os.path.join(log, f"{3:020d}.checkpoint.parquet")
    )
    write_delta(
        _mk(spark, [(4, 4.0)], "id bigint, v double"), p
    )  # v4 → checkpoint
    assert _os.path.exists(
        _os.path.join(log, f"{4:020d}.checkpoint.parquet")
    )
    import json as _json

    lc = _json.load(open(_os.path.join(log, "_last_checkpoint")))
    assert lc["version"] == 4
    # table reads fine through the auto-checkpoints
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [
        2, 3, 4,
    ]
    # OPTIMIZE and metadata commits keep the cadence too
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        optimize_delta,
        set_delta_properties,
    )

    write_delta(_mk(spark, [(5, 5.0)], "id bigint, v double"), p)  # v5
    assert optimize_delta(spark, p)["version"] == 6
    assert _os.path.exists(
        _os.path.join(log, f"{6:020d}.checkpoint.parquet")
    )
    write_delta(_mk(spark, [(6, 6.0)], "id bigint, v double"), p)  # v7
    assert set_delta_properties(spark, p, {"owner": "ops"}) == 8
    assert _os.path.exists(
        _os.path.join(log, f"{8:020d}.checkpoint.parquet")
    )
    assert _json.load(open(_os.path.join(log, "_last_checkpoint")))[
        "version"
    ] == 8
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [
        2, 3, 4, 5, 6,
    ]


def test_unset_tblproperties_and_v2_stream_meta(spark, tmp_path):
    """UNSET TBLPROPERTIES removes keys on both formats (a dropped
    delta.appendOnly re-enables DML — the constraint-lifecycle
    escape hatch), and the delta_tail stream resolves its schema
    through a V2 checkpoint manifest when the JSON tail has no
    metaData."""
    import json as _json
    import os as _os
    import shutil as _sh
    import uuid as _uuid

    from census_asc5_data_pipeline_spark.sources import delta_stream_source
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        create_checkpoint,
        delete_delta_where,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        _current_metadata,
        write_iceberg,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    dp = str(tmp_path / "d")
    ip = str(tmp_path / "i")
    write_delta(
        _mk(spark, [(1, 1.0)], "id bigint, v double"), dp,
        configuration={"delta.appendOnly": "true"},
    )
    write_iceberg(_mk(spark, [(1, 1.0)], "id bigint, v double"), ip)
    cat = {"d": ("delta", dp), "i": ("iceberg", ip)}
    dml_sql(
        spark, "ALTER TABLE i SET TBLPROPERTIES ('owner'='x')", cat
    )
    with pytest.raises(ValueError, match="appendOnly"):
        dml_sql(spark, "DELETE FROM d WHERE id = 1", cat)
    dml_sql(spark, "ALTER TABLE d UNSET TBLPROPERTIES ('delta.appendOnly')", cat)
    assert dml_sql(spark, "DELETE FROM d WHERE id = 1", cat) is not None
    dml_sql(spark, "ALTER TABLE i UNSET TBLPROPERTIES ('owner')", cat)
    _v, imeta = _current_metadata(ip)
    assert "owner" not in (imeta.get("properties") or {})

    # v2-manifest stream schema: convert the classic checkpoint to a
    # UUID json manifest (metaData inline per spec), vacuum the JSON
    # below it, and register the stream source fresh
    import pyarrow.parquet as _pq

    sp = str(tmp_path / "s")
    write_delta(_mk(spark, [(1, 1.0)], "id bigint, v double"), sp)
    write_delta(_mk(spark, [(2, 2.0)], "id bigint, v double"), sp)
    create_checkpoint(spark, sp, version=0)
    log = _os.path.join(sp, "_delta_log")
    t = _pq.read_table(_os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    with open(
        _os.path.join(log, f"{0:020d}.checkpoint.{_uuid.uuid4()}.json"),
        "w",
    ) as fh:
        for r in t.to_pylist():
            for k in ("protocol", "metaData", "add"):
                if r.get(k):
                    fh.write(_json.dumps({k: r[k]}) + "\n")
    _os.remove(_os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    _os.remove(_os.path.join(log, f"{0:020d}.json"))
    from census_asc5_data_pipeline_spark.sources.delta_stream_source import (
        _log_meta,
    )

    # JSON tail (v1) carries no metaData → must resolve via the v2
    # manifest... v1 DOES carry none since only v0 wrote metaData
    fields, pcols, phys = _log_meta(sp)
    assert [f["name"] for f in fields] == ["id", "v"]
    assert pcols == [] and phys is None


def test_column_mapping_mode_is_immutable(spark, tmp_path):
    """delta.columnMapping.mode is structural, not a knob: UNSETting
    it on a mapped table (readers would resolve logical names against
    physical col-<uuid> files — silent nulls) and SETting it on an
    existing unmapped table (old files lack physical names) both
    refuse; a same-value SET and unrelated property changes pass."""
    from census_asc5_data_pipeline_spark.sources.delta_io import (
        read_delta,
        set_delta_properties,
        write_delta,
    )
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    mp = str(tmp_path / "m")
    write_delta(
        _mk(spark, [(1, 1.0)], "id bigint, v double"), mp,
        configuration={"delta.columnMapping.mode": "name"},
    )
    cat = {"m": ("delta", mp)}
    with pytest.raises(ValueError, match="columnMapping.mode"):
        dml_sql(
            spark,
            "ALTER TABLE m UNSET TBLPROPERTIES "
            "('delta.columnMapping.mode')",
            cat,
        )
    # same-value set and unrelated properties pass
    set_delta_properties(
        spark, mp,
        {"delta.columnMapping.mode": "name", "owner": "x"},
    )
    assert [r.id for r in read_delta(spark, mp).collect()] == [1]

    up = str(tmp_path / "u")
    write_delta(_mk(spark, [(1, 1.0)], "id bigint, v double"), up)
    with pytest.raises(ValueError, match="columnMapping.mode"):
        set_delta_properties(
            spark, up, {"delta.columnMapping.mode": "name"}
        )
    # unsetting a mode that is not set is a no-op, not an error
    set_delta_properties(
        spark, up, {"delta.columnMapping.mode": None, "owner": "y"}
    )


def test_add_drop_constraint_sql(spark, tmp_path):
    """r16: ALTER TABLE ADD/DROP CONSTRAINT — sugar over the
    delta.constraints.* property route (ADD validates existing rows;
    a violated ADD refuses; DROP re-opens the gate)."""
    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources.merge import dml_sql

    p = str(tmp_path / "t")
    cat: dict = {}
    dml_sql(
        spark,
        f"CREATE TABLE t (k bigint, v bigint) USING delta "
        f"LOCATION '{p}'",
        cat,
    )
    dml_sql(spark, "INSERT INTO t VALUES (1, 10), (2, 20)", cat)
    dml_sql(
        spark, "ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 0)", cat
    )
    _pr, meta, _a, _t = d._replay(spark, p, None)
    assert meta["configuration"]["delta.constraints.v_pos"] == "v > 0"
    with pytest.raises(ValueError, match="v_pos"):
        dml_sql(spark, "INSERT INTO t VALUES (3, -1)", cat)
    # an ADD the existing rows violate refuses (delta-spark behavior)
    with pytest.raises(ValueError, match="k_big"):
        dml_sql(
            spark,
            "ALTER TABLE t ADD CONSTRAINT k_big CHECK (k > 100)",
            cat,
        )
    dml_sql(spark, "ALTER TABLE t DROP CONSTRAINT v_pos", cat)
    dml_sql(spark, "INSERT INTO t VALUES (3, -1)", cat)
    assert d.read_delta(spark, p).count() == 3


def test_vacuum_protocol_check_feature_accepted(spark, tmp_path):
    """r16: vacuumProtocolCheck joins the writable features — vacuum
    has gated the protocol BEFORE deleting anything since r14, which
    is the feature's entire writer demand."""
    import json as _json
    import os as _os

    from census_asc5_data_pipeline_spark.sources import delta_io as d

    import pyspark.sql.functions as F

    p = str(tmp_path / "t")
    d.write_delta(
        spark.range(4).coalesce(1).select(F.col("id")), p
    )
    # foreign protocol listing the feature
    log = _os.path.join(p, "_delta_log", f"{0:020d}.json")
    lines = [_json.loads(x) for x in open(log) if x.strip()]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["vacuumProtocolCheck"],
                "writerFeatures": ["vacuumProtocolCheck"],
            }
    with open(log, "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in lines) + "\n")
    d.write_delta(spark.range(4, 6).coalesce(1).select(F.col("id")), p)
    assert d.read_delta(spark, p).count() == 6
    res = d.vacuum_delta(spark, p, keep_versions=1)
    assert res["retained_versions"] == [1]
    assert d.read_delta(spark, p).count() == 6

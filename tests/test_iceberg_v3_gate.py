"""Iceberg v3 per-feature gate (r16, r15 verdict #5): v3 metadata
PARSES, and tables using only v2-compatible features READ; each
unsupported feature refuses BY NAME instead of the old v1/v2 blanket
refusal. Every verb WRITES v3: the DML verbs maintain the lineage
duties (append incl. born-v3 create, DV delete incl. replacement,
equality delete, compaction, UPDATE, MERGE) and the metadata-only
verbs carry format-version/next-row-id through dict(meta) rebuilds;
the main scan materializes initial-default columns."""
from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
from census_asc5_data_pipeline_spark.sources.merge import (
    merge_into,
    update_where,
)


def _mk_v3(spark, path: str, mutate=None) -> None:
    """A v2-written table re-stamped as format-version 3 with the
    row-lineage metadata fields a real v3 writer adds; ``mutate``
    edits the metadata dict further (fixture per refused feature)."""
    ice.write_iceberg(
        spark.range(6)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        path,
    )
    cur_v, meta = ice._current_metadata(path)
    meta = dict(meta)
    meta["format-version"] = 3
    meta["next-row-id"] = 6  # row lineage metadata: read-harmless
    for s in meta.get("snapshots", []):
        s["first-row-id"] = 0
    if mutate:
        mutate(meta)
    ice._commit_metadata(path, lambda _v, _m: meta)


def test_v3_with_v2_features_reads(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk_v3(spark, p)
    out = ice.read_iceberg(spark, p)
    assert out.count() == 6
    assert sorted(r.id for r in out.collect()) == list(range(6))
    # metadata tables read too (snapshots/files/history)
    assert ice.read_iceberg_meta(spark, p, "snapshots").count() >= 1


def test_v3_metadata_verbs_preserve_lineage_metadata(spark, tmp_path):
    """r16: the metadata-only verbs write v3 too — their dict(meta)
    rebuilds must carry format-version and next-row-id forward (a
    dropped next-row-id would reissue row ids; a dropped
    format-version would downgrade the table)."""
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)  # ids 0..5, _row_id 100..105
    ice.set_iceberg_properties(p, {"commit.retry.num-retries": "3"})
    ice.create_branch(p, "audit")
    ice.add_iceberg_columns(p, "note string")
    _v, meta = ice._current_metadata(p)
    assert meta["format-version"] == 3
    assert int(meta["next-row-id"]) == 106
    assert meta["properties"]["commit.retry.num-retries"] == "3"
    # the table still reads, and lineage ids are intact
    out = ice.read_iceberg(spark, p, row_lineage=True)
    assert sorted(r._row_id for r in out.collect()) == [
        100 + i for i in range(6)
    ]


def test_v3_unsupported_types_refuse_by_name(spark, tmp_path):
    p = str(tmp_path / "t")

    def add_variant(meta):
        sid = meta.get("current-schema-id", 0)
        sch = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == sid
        )
        sch["fields"] = sch["fields"] + [
            {"id": 99, "name": "payload", "required": False,
             "type": "variant"}
        ]

    _mk_v3(spark, p, add_variant)
    with pytest.raises(NotImplementedError, match="variant"):
        ice.read_iceberg(spark, p)


def _add_default(meta):
    sid = meta.get("current-schema-id", 0)
    sch = next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == sid
    )
    sch["fields"] = sch["fields"] + [
        {"id": 99, "name": "tag", "required": False,
         "type": "string", "initial-default": "legacy"}
    ]


def test_v3_initial_default_materializes_on_read(spark, tmp_path):
    """r16: rows in files that PREDATE an initial-default column
    surface the declared default on the main scan (NULL would be
    wrong data); files that CARRY the column keep stored values —
    including real NULLs. Non-materializing surfaces still refuse."""
    import shutil

    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(3).coalesce(1).select(F.col("id")), p
    )
    # a second file that physically CARRIES tag (with one real NULL),
    # planted by swapping an engine-appended file's bytes
    before = {
        os.path.basename(ice._local(d["file_path"]))
        for d in ice._snapshot_files(p, ice._current_metadata(p)[1], None)[0]
    }
    ice.write_iceberg(
        spark.range(3, 6).coalesce(1).select(F.col("id")), p
    )
    cur_v, meta = ice._current_metadata(p)
    newf = next(
        d
        for d in ice._snapshot_files(p, meta, None)[0]
        if os.path.basename(ice._local(d["file_path"])) not in before
    )
    staging = str(tmp_path / "stage")
    spark.createDataFrame(
        [(3, "kept"), (4, None), (5, "kept")], "id long, tag string"
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    src = next(
        f
        for f in os.listdir(staging)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    shutil.copy(
        os.path.join(staging, src), ice._local(newf["file_path"])
    )
    # stamp v3 + the defaulted column
    meta2 = dict(ice._current_metadata(p)[1])
    meta2["format-version"] = 3
    meta2["next-row-id"] = 6
    _add_default(meta2)
    ice._commit_metadata(p, lambda _v, _m: meta2)
    rows = {
        r.id: r.tag for r in ice.read_iceberg(spark, p).collect()
    }
    assert rows == {
        0: "legacy", 1: "legacy", 2: "legacy",  # pre-schema: default
        3: "kept", 4: None, 5: "kept",  # stored values win, NULL real
    }
    # predicate composes (prune + residual over the defaulted view)
    assert {
        r.id
        for r in ice.read_iceberg(
            spark, p, predicate="id >= 1"
        ).collect()
    } == {1, 2, 3, 4, 5}
    # DML scans materialize defaults too (late r16) — but THIS
    # fixture's files carry no first_row_id, so the lineage side of
    # the DML scan refuses rather than fabricate ids
    with pytest.raises(ValueError, match="first_row_id"):
        update_where(spark, "iceberg", p, "id = 1", {"id": "id + 10"})


def test_v3_encryption_refuses(spark, tmp_path):
    p2 = str(tmp_path / "t2")
    _mk_v3(
        spark,
        p2,
        lambda m: m.update(
            {"encryption-keys": [{"key-id": "k1", "encrypted-key": "x"}]}
        ),
    )
    with pytest.raises(NotImplementedError, match="encryption-keys"):
        ice.read_iceberg(spark, p2)


def test_v4_still_blanket_refuses(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk_v3(spark, p, lambda m: m.update({"format-version": 4}))
    with pytest.raises(NotImplementedError, match="format-version 4"):
        ice.read_iceberg(spark, p)


def _mk_v3_dv_table(spark, path: str):
    """A v3 table whose delete snapshot is a real DELETION VECTOR:
    one data file of ids 0..9, a Puffin deletion-vector-v1 blob
    masking row positions 1 and 3, committed through a delete
    manifest carrying the v3 DV fields."""
    import copy
    import os

    from census_asc5_data_pipeline_spark.sources import (
        deletion_vectors as dvm,
    )
    from census_asc5_data_pipeline_spark.sources import puffin

    ice.write_iceberg(
        spark.range(10)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k")),
        path,
    )
    cur_v, meta = ice._current_metadata(path)
    data_file = next(
        d["file_path"]
        for d in ice._snapshot_files(path, meta, None)[0]
    )
    pf = os.path.join(ice._meta_dir(path), "dv-00001.puffin")
    payload = dvm.write_iceberg_dv_blob([1, 3])
    (blob_meta,) = puffin.write_puffin(
        pf,
        [
            (
                payload,
                {
                    "type": "deletion-vector-v1",
                    "fields": [2147483546],
                    "snapshot-id": -1,
                    "sequence-number": -1,
                    "properties": {
                        "referenced-data-file": data_file,
                        "cardinality": "2",
                    },
                },
            )
        ],
    )
    schema = copy.deepcopy(ice._MANIFEST_ENTRY_SCHEMA)
    schema["fields"][2]["type"]["fields"] += [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "default": None},
        {"name": "content_offset", "type": ["null", "long"],
         "default": None},
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "default": None},
    ]
    dv_entry = {
        "content": 1,
        "file_path": os.path.abspath(pf),
        "file_format": "PUFFIN",
        "partition": {},
        "record_count": 2,
        "file_size_in_bytes": os.path.getsize(pf),
        "value_counts": None,
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
        "sort_order_id": None,
        "referenced_data_file": data_file,
        "content_offset": int(blob_meta["offset"]),
        "content_size_in_bytes": int(blob_meta["length"]),
    }
    ice._commit_row_level(
        path, cur_v, meta, "DELETE", delete_files=[dv_entry]
    )
    cur_v2, meta2 = ice._current_metadata(path)
    meta3 = dict(meta2)
    meta3["format-version"] = 3
    meta3["next-row-id"] = 10
    ice._commit_metadata(path, lambda _v, _m: meta3)


def test_v3_deletion_vectors_read_on_scan_path(spark, tmp_path):
    """r16 elective on top of verdict #5: the scan DECODES v3 DVs
    through the shared roaring codec instead of refusing — the two
    masked positions vanish, everything else survives."""
    p = str(tmp_path / "t")
    _mk_v3_dv_table(spark, p)
    out = ice.read_iceberg(spark, p)
    assert sorted(r.id for r in out.collect()) == [
        0, 2, 4, 5, 6, 7, 8, 9,
    ]
    # predicate composition still exact over the DV-masked scan
    assert ice.read_iceberg(spark, p, predicate="id >= 4").count() == 6
    # the change feed decodes the DV (late r16): the masked rows'
    # FULL images surface as retractions at the delete snapshot
    changes, _last = ice.read_iceberg_changes(spark, p)
    dels = {
        r.id
        for r in changes.where("_change_type = 'delete'").collect()
    }
    assert dels == {1, 3}


def _mk_v3_lineage_table(spark, path: str, materialized: bool = False):
    """A v3 table with row lineage: one data file of ids 0..5 whose
    manifest entry carries first_row_id=100; with ``materialized``,
    a second file carries explicit _row_id/_last_updated_sequence_
    number columns (a compaction's carried rows)."""
    import copy
    import os

    from census_asc5_data_pipeline_spark.sources.avro_io import (
        read_container_generic,
        write_container_generic,
    )

    ice.write_iceberg(
        spark.range(6).coalesce(1).select(F.col("id")), path
    )
    if materialized:
        df2 = spark.range(6, 9).select(
            F.col("id"),
            (F.col("id") + 900).alias("_row_id"),
            F.lit(1).cast("long").alias(
                "_last_updated_sequence_number"
            ),
        )
        # plant as a plain parquet data file appended via a second
        # engine write of the id column only, then swap the file
        ice.write_iceberg(
            spark.range(6, 9).coalesce(1).select(F.col("id")), path
        )
        staging = os.path.join(path, ".stage")
        df2.coalesce(1).write.mode("overwrite").parquet(staging)
        src = next(
            f
            for f in os.listdir(staging)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        cur_v, meta = ice._current_metadata(path)
        live, _dels = ice._snapshot_files(path, meta, None)
        tgt = next(
            d["file_path"]
            for d in live
            if d.get("record_count") == 3
        )
        os.replace(os.path.join(staging, src), ice._local(tgt))
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    # rewrite every manifest with first_row_id stamped
    cur_v, meta = ice._current_metadata(path)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, ml_rows = read_container_generic(
        ice._local(snap["manifest-list"])
    )
    schema = copy.deepcopy(ice._MANIFEST_ENTRY_SCHEMA)
    schema["fields"][2]["type"]["fields"] += [
        {"name": "first_row_id", "type": ["null", "long"],
         "default": None},
    ]
    first = 100
    for m in ml_rows:
        mp = ice._local(m["manifest_path"])
        _es, entries = read_container_generic(mp)
        for e in entries:
            d = dict(e["data_file"])
            d.setdefault("value_counts", None)
            d.setdefault("null_value_counts", None)
            d.setdefault("lower_bounds", None)
            d.setdefault("upper_bounds", None)
            d.setdefault("sort_order_id", None)
            d["first_row_id"] = first
            first += int(d.get("record_count", 0) or 0)
            e["data_file"] = d
        new_mp = mp + ".v3.avro"
        with open(new_mp, "wb") as fh:
            write_container_generic(fh, schema, entries)
        m["manifest_path"] = new_mp
        m["manifest_length"] = os.path.getsize(new_mp)
    new_ml = ice._local(snap["manifest-list"]) + ".v3.avro"
    with open(new_ml, "wb") as fh:
        write_container_generic(
            fh,
            ice._MANIFEST_FILE_SCHEMA,
            [ice._ml_row(m) for m in ml_rows],
        )
    meta2 = dict(meta)
    meta2["format-version"] = 3
    meta2["next-row-id"] = first
    snaps = []
    for s in meta["snapshots"]:
        s = dict(s)
        if s["snapshot-id"] == meta["current-snapshot-id"]:
            s["manifest-list"] = new_ml
            s["first-row-id"] = 100
        snaps.append(s)
    meta2["snapshots"] = snaps
    ice._commit_metadata(path, lambda _v, _m: meta2)


def test_v3_row_lineage_read_through(spark, tmp_path):
    """r16 elective: _row_id/_last_updated_sequence_number from
    first_row_id + position — the delta rowTracking READ twin."""
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)
    out = ice.read_iceberg(spark, p, row_lineage=True)
    rows = {r.id: (r._row_id, r._last_updated_sequence_number)
            for r in out.collect()}
    assert rows == {i: (100 + i, 1) for i in range(6)}
    # plain read unaffected
    assert ice.read_iceberg(spark, p).columns == ["id"]
    # v2 tables refuse (lineage does not exist before v3)
    p2 = str(tmp_path / "v2")
    ice.write_iceberg(spark.range(3).select(F.col("id")), p2)
    with pytest.raises(ValueError, match="format-version 3"):
        ice.read_iceberg(spark, p2, row_lineage=True)


def test_v3_row_lineage_materialized_wins(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p, materialized=True)
    out = ice.read_iceberg(spark, p, row_lineage=True)
    rows = {r.id: r._row_id for r in out.collect()}
    # file 1: fresh ids off first_row_id; file 2: materialized wins
    assert {k: v for k, v in rows.items() if k < 6} == {
        i: 100 + i for i in range(6)
    }
    assert {k: v for k, v in rows.items() if k >= 6} == {
        i: i + 900 for i in range(6, 9)
    }
    # hidden lineage columns never leak into a plain read
    assert ice.read_iceberg(spark, p).columns == ["id"]


def test_v3_append_and_dv_delete_write(spark, tmp_path):
    """r16 flagship elective: v3 WRITE for the lineage-preserving
    verbs — appends stamp first_row_id blocks above next-row-id and
    advance it (format-version 3 preserved, never downgraded);
    position DELETEs write Puffin deletion-vector-v1 blobs (the
    spec's mandatory v3 delete shape) that the scan reads back."""
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)  # ids 100..105, next-row-id 106
    sid = ice.write_iceberg(
        spark.range(50, 53).coalesce(1).select(F.col("id")), p
    )
    out = ice.read_iceberg(spark, p, row_lineage=True)
    rows = {r.id: r._row_id for r in out.collect()}
    assert rows == {i: 100 + i for i in range(6)} | {
        50: 106, 51: 107, 52: 108,
    }
    _v, meta = ice._current_metadata(p)
    assert meta["format-version"] == 3  # never downgraded
    assert meta["next-row-id"] == 109
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == sid
    )
    assert snap["first-row-id"] == 106
    # DV delete: a Puffin blob per touched file, scan applies it
    did = ice.delete_iceberg_positions(spark, p, "id IN (1, 51)")
    assert did is not None
    assert sorted(
        r.id for r in ice.read_iceberg(spark, p).collect()
    ) == [0, 2, 3, 4, 5, 50, 52]
    # survivors keep their lineage ids
    after = {
        r.id: r._row_id
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert after == {k: v for k, v in rows.items() if k not in (1, 51)}
    # the delete files really are Puffin DVs
    _v2, meta2 = ice._current_metadata(p)
    _live, dels = ice._snapshot_files(p, meta2, None)
    assert dels and all(ice._is_dv_entry(d) for d in dels)
    s2 = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == did
    )
    assert s2["summary"]["added-position-deletes"] == "2"
    # no-match delete commits nothing
    assert ice.delete_iceberg_positions(spark, p, "id = 999") is None
    # a second DV on an already-vectored file REPLACES it (union +
    # retire, the spec's at-most-one-DV rule): exactly one live DV
    # per touched file afterwards, both deletions in force
    assert ice.delete_iceberg_positions(spark, p, "id = 2") is not None
    assert sorted(
        r.id for r in ice.read_iceberg(spark, p).collect()
    ) == [0, 3, 4, 5, 50, 52]
    _v3, meta3 = ice._current_metadata(p)
    _live3, dels3 = ice._snapshot_files(p, meta3, None)
    ref_counts: dict[str, int] = {}
    for d3 in dels3:
        b = os.path.basename(ice._local(d3["referenced_data_file"]))
        ref_counts[b] = ref_counts.get(b, 0) + 1
    assert all(n == 1 for n in ref_counts.values()), ref_counts
    # the replacement blob is the UNION: cardinality 2 on file 1
    assert {int(d3["record_count"]) for d3 in dels3} == {1, 2}


def test_v3_equality_delete_still_writes_files(spark, tmp_path):
    """Equality deletes remain FILES in v3 (DVs replace only
    position deletes) — delete_iceberg_where keeps working."""
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)
    keys = spark.createDataFrame([(2,), (4,)], "id long")
    sid = ice.delete_iceberg_where(keys, p)
    assert sid is not None
    assert sorted(
        r.id for r in ice.read_iceberg(spark, p).collect()
    ) == [0, 1, 3, 5]
    _v, meta = ice._current_metadata(p)
    assert meta["format-version"] == 3


def test_v3_rewrite_preserves_lineage(spark, tmp_path):
    """r16: v3 COMPACTION is lineage-preserving — rewritten rows
    carry their coalesced _row_id / _last_updated_sequence_number as
    materialized columns (the spec's mandatory rewrite duty), live
    DVs are applied and retired, fresh first_row_id blocks advance
    next-row-id, and format-version 3 survives the rebuild."""
    import os

    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)  # ids 0..5, _row_id 100..105
    ice.write_iceberg(
        spark.range(50, 53).coalesce(1).select(F.col("id")), p
    )  # _row_id 106..108 at next-row-id 106
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    sid = ice.delete_iceberg_positions(spark, p, "id = 51")
    assert sid is not None
    _v, meta = ice._current_metadata(p)
    next_before = int(meta["next-row-id"])
    res = ice.rewrite_data_files(spark, p)
    assert res["snapshot_id"] is not None
    out = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    # every survivor keeps BOTH lineage values through the rewrite
    assert out == {k: v for k, v in before.items() if k != 51}
    _v2, meta2 = ice._current_metadata(p)
    assert meta2["format-version"] == 3  # never downgraded
    live, dels = ice._snapshot_files(p, meta2, None)
    assert not dels  # major compaction retired the DV
    # fresh first_row_id blocks above the pre-rewrite next-row-id
    assert all(d.get("first_row_id") is not None for d in live)
    assert min(int(d["first_row_id"]) for d in live) >= next_before
    assert int(meta2["next-row-id"]) == next_before + sum(
        int(d["record_count"]) for d in live
    )
    # the rewritten files really carry MATERIALIZED lineage columns
    cols = pq.ParquetFile(
        ice._local(live[0]["file_path"])
    ).schema_arrow.names
    assert "_row_id" in cols
    assert "_last_updated_sequence_number" in cols
    # a fresh DV delete works again (the one-DV-per-file rule was
    # reset by the rewrite) and survivors still keep their ids
    assert ice.delete_iceberg_positions(spark, p, "id = 2") is not None
    after = {
        r.id: r._row_id
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert after == {
        k: v[0] for k, v in before.items() if k not in (51, 2)
    }


def test_v3_update_and_merge_preserve_lineage(spark, tmp_path):
    """r16: v3 UPDATE/MERGE write — updated rows keep their _row_id
    as a materialized column and take the NEW sequence number (the
    null materialized _last_updated_sequence_number inherits it);
    inserts draw fresh ids from the new file's first_row_id block;
    retirements commit as Puffin DVs, and a second DML touching an
    already-vectored file REPLACES its DV (union + retire)."""
    p = str(tmp_path / "t")
    _mk_v3_lineage_table(spark, p)  # ids 0..5, _row_id 100..105
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    # UPDATE: rows 4,5 get id += 10; ids stable, seq bumps
    sid = update_where(spark, "iceberg", p, "id >= 4", {"id": "id + 10"})
    assert sid is not None
    out = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert out[14][0] == before[4][0]
    assert out[15][0] == before[5][0]
    assert out[14][1] > before[4][1]  # "last updated" moved
    assert out[0] == before[0]  # untouched rows unchanged
    # MERGE: update id=1 -> 101 (keeps id), insert id=77 (fresh id)
    src = spark.createDataFrame([(1,), (77,)], "id long")
    sid2 = merge_into(
        spark, "iceberg", p, src, "t.id = s.id",
        matched=[("update", None, {"id": "t.id + 100"})],
        not_matched={"id": "s.id"},
    )
    assert sid2 is not None
    out2 = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert out2[101][0] == before[1][0]  # merged-update keeps id
    assert out2[101][1] > before[1][1]
    assert out2[77][0] is not None and out2[77][0] >= 106  # fresh id
    _v, meta = ice._current_metadata(p)
    assert meta["format-version"] == 3
    assert int(meta["next-row-id"]) > 106
    # retirements are DVs; the second DML replaced file 1's DV
    # (UPDATE vectored rows 4,5 there; MERGE added row 1): exactly
    # one live DV per referenced file
    live, dels = ice._snapshot_files(p, meta, None)
    assert dels and all(ice._is_dv_entry(d) for d in dels)
    refs = [
        os.path.basename(ice._local(d["referenced_data_file"]))
        for d in dels
    ]
    assert len(refs) == len(set(refs)), refs
    # a delete-MERGE on yet another row of the same file replaces
    # again; survivors keep their ids
    sid3 = merge_into(
        spark, "iceberg", p,
        spark.createDataFrame([(2,)], "id long"),
        "t.id = s.id", matched=[("delete", None)],
    )
    assert sid3 is not None
    out3 = {
        r.id: r._row_id
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert 2 not in out3
    assert out3[3] == before[3][0]
    assert out3[101] == before[1][0]


def test_born_v3_create(spark, tmp_path):
    """r16: `write_iceberg(format_version=3)` creates a v3 table
    with lineage maintained from next-row-id 0; the table's own
    version governs later writes (a mismatched format_version
    raises), and v2 stays the default."""
    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(5).coalesce(1).select(F.col("id")), p,
        format_version=3,
    )
    out = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert out == {i: (i, 1) for i in range(5)}
    _v, meta = ice._current_metadata(p)
    assert meta["format-version"] == 3
    assert int(meta["next-row-id"]) == 5
    with pytest.raises(ValueError, match="format-version 3"):
        ice.write_iceberg(
            spark.range(2).select(F.col("id")), p, format_version=2
        )
    p2 = str(tmp_path / "t2")
    ice.write_iceberg(spark.range(2).select(F.col("id")), p2)
    assert ice._current_metadata(p2)[1]["format-version"] == 2


def test_v3_dml_over_initial_default_columns(spark, tmp_path):
    """late r16: the DML scans materialize initial-default columns —
    a WHERE / MERGE condition over a defaulted column matches
    pre-schema rows (NULL would silently skip them), post-images
    carry the default materialized, lineage rides along, and
    row_lineage composes with defaults on the read side too."""
    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(4).coalesce(1).select(F.col("id")), p,
        format_version=3,
    )
    cur_v, meta = ice._current_metadata(p)
    meta2 = dict(meta)
    _add_default(meta2)  # tag string, initial-default 'legacy'
    ice._commit_metadata(p, lambda _v, _m: meta2)
    # read composes defaults + lineage
    rows = {
        r.id: (r.tag, r._row_id)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert rows == {i: ("legacy", i) for i in range(4)}
    # UPDATE matched THROUGH the default; id keeps its lineage
    sid = update_where(
        spark, "iceberg", p,
        "tag = 'legacy' AND id = 1", {"tag": "'patched'"},
    )
    assert sid is not None
    after = {
        r.id: (r.tag, r._row_id)
        for r in ice.read_iceberg(spark, p, row_lineage=True).collect()
    }
    assert after[1] == ("patched", 1)
    assert after[0] == ("legacy", 0)
    # the rewritten file CARRIES tag (materialized), others default
    # DELETE matched through the default too
    assert ice.delete_iceberg_positions(
        spark, p, "tag = 'legacy' AND id = 2"
    ) is not None
    assert sorted(
        r.id for r in ice.read_iceberg(spark, p).collect()
    ) == [0, 1, 3]
    # MERGE: condition over the defaulted column
    src = spark.createDataFrame([(0,), (9,)], "id long")
    sid3 = merge_into(
        spark, "iceberg", p, src,
        "t.id = s.id AND t.tag = 'legacy'",
        matched=[("update", None, {"tag": "'merged'"})],
        not_matched={"id": "s.id", "tag": "'new'"},
    )
    assert sid3 is not None
    fin = {
        r.id: r.tag for r in ice.read_iceberg(spark, p).collect()
    }
    assert fin == {0: "merged", 1: "patched", 3: "legacy", 9: "new"}


def test_v3_change_feed_diffs_replaced_dvs(spark, tmp_path):
    """late r16 (r17 #1 pulled forward): the snapshot-diff change
    feed decodes v3 DVs — and because a second DML on the same file
    REPLACES its DV with the union blob, the feed must emit only the
    DIFF vs the parent snapshot's DV state, never re-retract the
    earlier deletions. Incremental cursors see exactly one
    retraction per row."""
    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(8).coalesce(1).select(F.col("id")), p,
        format_version=3,
    )
    s1 = ice.delete_iceberg_positions(spark, p, "id IN (1, 3)")
    s2 = ice.delete_iceberg_positions(spark, p, "id = 5")  # replaces
    changes, last = ice.read_iceberg_changes(spark, p)
    dels = sorted(
        (r._snapshot_id, r.id)
        for r in changes.where("_change_type = 'delete'").collect()
    )
    assert dels == [(s1, 1), (s1, 3), (s2, 5)]
    # incremental: tail from s1 sees ONLY the second snapshot's diff
    inc, _ = ice.read_iceberg_changes(spark, p, since_snapshot_id=s1)
    assert sorted(
        r.id for r in inc.where("_change_type = 'delete'").collect()
    ) == [5]
    assert last == s2


def test_v3_dv_retractions_through_the_stream(spark, tmp_path):
    """late r16: the iceberg_tail STREAM emits v3 DV retractions as
    full row images — and a replacing DV (second delete on the same
    file) emits only its diff, so a restarted stream that already
    consumed the first delete never re-retracts those rows."""
    from census_asc5_data_pipeline_spark.sources import (
        iceberg_stream_source,
    )

    iceberg_stream_source.register(spark)
    table = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out: list = []

    def sink(batch_df, epoch_id):
        out.extend(
            (r.id, r._change_type, r._snapshot_id)
            for r in batch_df.collect()
        )

    ice.write_iceberg(
        spark.range(6).coalesce(1).select(F.col("id")), table,
        format_version=3,
    )  # s1
    s2 = ice.delete_iceberg_positions(spark, table, "id IN (1, 3)")

    def _drain():
        q = (
            spark.readStream.format("iceberg_tail")
            .option("path", table)
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .foreachBatch(sink)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _drain()
    assert sorted(out) == sorted(
        [(i, "insert", 1) for i in range(6)]
        + [(1, "delete", s2), (3, "delete", s2)]
    )
    # a REPLACING DV lands while the stream is down; the restart
    # emits only the diff (id 5), never re-retracting 1/3
    out.clear()
    s3 = ice.delete_iceberg_positions(spark, table, "id = 5")
    _drain()
    assert out == [(5, "delete", s3)]


def test_v3_write_default_fills_appends(spark, tmp_path):
    """late r16 (table spec §Default values): an append missing a
    column whose field declares write-default fills it at write time
    — pre-schema rows still surface the initial-default, supplied
    rows keep their explicit values, and a missing column WITHOUT a
    write-default keeps raising the drift error."""
    p = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(3).coalesce(1).select(F.col("id")), p,
        format_version=3,
    )
    cur_v, meta = ice._current_metadata(p)
    meta2 = dict(meta)
    sid = meta2.get("current-schema-id", 0)
    sch = next(
        s for s in meta2["schemas"] if s.get("schema-id", 0) == sid
    )
    sch["fields"] = sch["fields"] + [
        {"id": 99, "name": "tag", "required": False, "type": "string",
         "initial-default": "legacy", "write-default": "filled"}
    ]
    ice._commit_metadata(p, lambda _v, _m: meta2)
    # append WITHOUT tag: write-default fills it
    ice.write_iceberg(
        spark.range(3, 5).coalesce(1).select(F.col("id")), p
    )
    # append WITH tag: explicit values win
    ice.write_iceberg(
        spark.createDataFrame([(5, "mine")], "id long, tag string"), p
    )
    rows = {r.id: r.tag for r in ice.read_iceberg(spark, p).collect()}
    assert rows == {
        0: "legacy", 1: "legacy", 2: "legacy",  # initial-default
        3: "filled", 4: "filled",  # write-default at write time
        5: "mine",
    }
    # a genuinely missing column (no write-default) still drifts
    ice.add_iceberg_columns(p, "note string")
    with pytest.raises(ValueError, match="schema mismatch"):
        ice.write_iceberg(
            spark.range(6, 7).select(F.col("id")), p
        )

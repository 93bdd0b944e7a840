"""commitInfo operationMetrics (r15 verdict #1).

Every engine commit site stamps the metrics delta-spark's DESCRIBE
HISTORY surfaces — numFiles/numOutputRows on writes,
numTargetRows{Inserted,Updated,Deleted} on MERGE, numDeletedRows /
numUpdatedRows on row-level DML (both CoW and DV shapes),
file-count/byte metrics on OPTIMIZE/RESTORE/CLONE. The values are
asserted against the ACTUAL row/file deltas of each operation, and
every value derives from the commit's own actions (stats.numRecords)
or counts piggybacked on collects the paths already ran — stamping
adds no Spark job. Foreign commitInfo without the key still reads
(empty map)."""
from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources import merge as merge_mod
from census_asc5_data_pipeline_spark.sources.merge import (
    merge_into,
    update_where,
)


def _metrics(spark, path: str, version: int | None = None) -> dict:
    h = d.describe_history(spark, path).collect()
    if version is None:
        return dict(h[0].operation_metrics)
    row = next(r for r in h if r.version == version)
    return dict(row.operation_metrics)


def _mk(spark, path: str, n: int = 10, cdf: bool = False) -> None:
    # ONE data file, so copied-row expectations are deterministic
    # (CoW copies the touched files' surviving rows)
    df = (
        spark.range(n)
        .coalesce(1)
        .select(F.col("id"), (F.col("id") % 3).alias("k"))
    )
    d.write_delta(
        df,
        path,
        configuration=(
            {"delta.enableChangeDataFeed": "true"} if cdf else None
        ),
    )


def test_write_metrics(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    m = _metrics(spark, p)
    assert int(m["numOutputRows"]) == 10
    assert int(m["numFiles"]) >= 1
    assert int(m["numOutputBytes"]) > 0
    assert "numRemovedFiles" not in m  # append stamps no removes
    # overwrite: removes every previously-live file in the metrics
    d.write_delta(
        spark.range(4).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        ),
        p,
        mode="overwrite",
    )
    m = _metrics(spark, p)
    assert int(m["numOutputRows"]) == 4
    assert int(m["numRemovedFiles"]) >= 1
    assert int(m["numRemovedBytes"]) > 0


def test_delete_cow_metrics(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10, cdf=True)
    v = d.delete_delta_where(spark, p, "id >= 7", mode="cow")
    m = _metrics(spark, p, v)
    assert int(m["numDeletedRows"]) == 3
    assert int(m["numCopiedRows"]) == 7
    assert int(m["numRemovedFiles"]) >= 1
    assert int(m["numAddedFiles"]) >= 1
    assert int(m["numAddedChangeFiles"]) >= 1  # CDF on
    assert "numDeletionVectorsAdded" not in m
    # the stamped row metrics agree with the table's actual state
    assert d.read_delta(spark, p).count() == 7


def test_delete_dv_metrics(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=10)
    v = d.delete_delta_where(spark, p, "id < 4", mode="dv")
    m = _metrics(spark, p, v)
    assert int(m["numDeletedRows"]) == 4
    assert int(m["numCopiedRows"]) == 0
    assert int(m["numDeletionVectorsAdded"]) >= 1
    # DV remove+re-add pairs are NOT file adds/removes
    assert int(m["numAddedFiles"]) == 0
    assert int(m["numRemovedFiles"]) == 0
    assert d.read_delta(spark, p).count() == 6


def test_update_metrics_both_modes(spark, tmp_path):
    for mode, name in (("cow", "a"), ("dv", "b")):
        p = str(tmp_path / name)
        _mk(spark, p, n=10)
        v = update_where(
            spark, "delta", p, "id % 2 = 0", {"k": "k + 100"},
            mode=mode,
        )
        m = _metrics(spark, p, v)
        assert int(m["numUpdatedRows"]) == 5, mode
        if mode == "cow":
            assert int(m["numCopiedRows"]) == 5
            assert "numDeletionVectorsAdded" not in m
        else:
            assert int(m["numCopiedRows"]) == 0
            assert int(m["numDeletionVectorsAdded"]) >= 1
        assert int(m["numAddedFiles"]) >= 1
        assert (
            d.read_delta(spark, p).filter("k >= 100").count() == 5
        ), mode


def test_merge_metrics_both_modes(spark, tmp_path, monkeypatch):
    for mode, name in (("cow", "a"), ("dv", "b")):
        p = str(tmp_path / name)
        _mk(spark, p, n=10)  # ids 0..9
        src = spark.range(7, 13).select(
            F.col("id"), F.lit(999).alias("k")
        )  # 7..9 match, 10..12 insert
        v = merge_into(
            spark,
            "delta",
            p,
            src,
            "t.id = s.id",
            matched=[
                ("delete", "t.id = 7"),
                ("update", None, {"k": "s.k"}),
            ],
            not_matched={"id": "s.id", "k": "s.k"},
            mode=mode,
        )
        m = _metrics(spark, p, v)
        assert int(m["numTargetRowsInserted"]) == 3, mode
        assert int(m["numTargetRowsUpdated"]) == 2, mode
        assert int(m["numTargetRowsDeleted"]) == 1, mode
        if mode == "cow":
            # touched files' unmatched rows were copied through
            assert int(m["numTargetRowsCopied"]) == int(
                m["numOutputRows"]
            ) - 2 - 3
            assert int(m["numTargetFilesRemoved"]) >= 1
        else:
            assert int(m["numTargetRowsCopied"]) == 0
            # post-images + inserts only — nothing copied
            assert int(m["numOutputRows"]) == 5
            assert int(m["numTargetDeletionVectorsAdded"]) >= 1
        out = d.read_delta(spark, p)
        assert out.count() == 12, mode  # 10 - 1 + 3
        assert out.filter("k = 999").count() == 5, mode
        # a MERGE that touches a file takes its insert count from the
        # staging write's observe(), not from a count job of its own
        seen: list = []
        real_obs_n = merge_mod._obs_n
        monkeypatch.setattr(
            merge_mod, "_obs_n", lambda o: seen.append(1) or real_obs_n(o)
        )
        # every source key matches: touched, zero rows inserted
        v = merge_into(
            spark, "delta", p,
            spark.range(8, 10).select(F.col("id"), F.lit(5).alias("k")),
            "t.id = s.id",
            matched=[("update", None, {"k": "s.k"})],
            not_matched={"id": "s.id", "k": "s.k"},
            mode=mode,
        )
        m = _metrics(spark, p, v)
        assert m["numTargetRowsInserted"] == "0", mode
        assert int(m["numTargetRowsUpdated"]) == 2, mode
        # 12 matches; of 13..19 only the even keys pass the insert clause
        v = merge_into(
            spark, "delta", p,
            spark.range(12, 20).select(F.col("id"), F.lit(6).alias("k")),
            "t.id = s.id",
            matched=[("update", None, {"k": "s.k"})],
            not_matched=[("s.id % 2 = 0", {"id": "s.id", "k": "s.k"})],
            mode=mode,
        )
        m = _metrics(spark, p, v)
        assert int(m["numTargetRowsInserted"]) == 3, mode
        assert int(m["numTargetRowsUpdated"]) == 1, mode
        # (tagged, scan, inserts) per MERGE
        assert len(seen) == 6, (mode, seen)
        monkeypatch.undo()
        assert sorted(
            r.id for r in d.read_delta(spark, p).where("k = 6").collect()
        ) == [12, 14, 16, 18], mode


def test_optimize_and_restore_metrics(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(4):
        d.write_delta(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id"), (F.col("id") % 3).alias("k")
            ),
            p,
        )
    res = d.optimize_delta(spark, p, target_file_bytes=1 << 30)
    m = _metrics(spark, p, res["version"])
    # files_after = files_before - removed + added
    assert int(m["numRemovedFiles"]) == (
        res["files_before"] - res["files_after"] + int(m["numAddedFiles"])
    )
    assert int(m["numAddedFiles"]) >= 1
    assert int(m["numAddedBytes"]) > 0
    v = d.restore_delta(spark, p, 0)
    m = _metrics(spark, p, v)
    assert int(m["numOfFilesAfterRestore"]) >= 1
    assert int(m["tableSizeAfterRestore"]) > 0
    assert int(m["numRestoredFiles"]) >= 1
    assert d.read_delta(spark, p).count() == 10


def test_clone_metrics(spark, tmp_path):
    src = str(tmp_path / "src")
    _mk(spark, src, n=10)
    d.clone_delta(spark, src, str(tmp_path / "sh"), shallow=True)
    m = _metrics(spark, str(tmp_path / "sh"), 0)
    assert int(m["sourceNumOfFiles"]) >= 1
    assert int(m["sourceTableSize"]) > 0
    assert int(m["numCopiedFiles"]) == 0
    d.clone_delta(spark, src, str(tmp_path / "dp"), shallow=False)
    m = _metrics(spark, str(tmp_path / "dp"), 0)
    assert int(m["numCopiedFiles"]) == int(m["sourceNumOfFiles"])


def test_stats_cols_zero_keeps_num_records(spark, tmp_path):
    """dataSkippingNumIndexedCols=0 disables INDEXED columns, not row
    accounting (delta-spark semantics, r15): adds carry
    numRecords-only stats, so operationMetrics keeps numOutputRows
    while no min/max is stamped."""
    p = str(tmp_path / "t")
    d.write_delta(
        spark.range(5).select(F.col("id")),
        p,
        configuration={"delta.dataSkippingNumIndexedCols": "0"},
    )
    m = _metrics(spark, p)
    assert int(m["numOutputRows"]) == 5
    assert int(m["numFiles"]) >= 1
    _p, _meta, adds, _t = d._replay(spark, p, None)
    st = json.loads(next(iter(adds.values()))["stats"])
    assert st["numRecords"] >= 1
    assert st["minValues"] == {} and st["maxValues"] == {}


def test_foreign_add_without_stats_omits_row_metrics(spark, tmp_path):
    """An add carrying NO stats at all (foreign writer) omits the
    row metrics rather than guessing."""
    p = str(tmp_path / "t")
    _mk(spark, p, n=3)
    cf = d._commit_file(p, 0)
    out = []
    with open(cf) as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                a["add"].pop("stats", None)
            out.append(json.dumps(a))
    with open(cf, "w") as fh:
        fh.write("\n".join(out) + "\n")
    # a follow-up overwrite reads the stat-less adds for its removes;
    # its OWN adds carry stats, so numOutputRows stays exact while
    # nothing is guessed about the foreign rows
    d.write_delta(
        spark.range(2).coalesce(1).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        ),
        p,
        mode="overwrite",
    )
    m = _metrics(spark, p)
    assert int(m["numOutputRows"]) == 2


def test_foreign_commit_without_metrics_reads_empty(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, n=3)
    # strip operationMetrics from the commit, as a foreign writer
    # that doesn't stamp them would leave it
    cf = d._commit_file(p, 0)
    out = []
    with open(cf) as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"].pop("operationMetrics", None)
            out.append(json.dumps(a))
    with open(cf, "w") as fh:
        fh.write("\n".join(out) + "\n")
    h = d.describe_history(spark, p).collect()
    assert h[0].operation_metrics == {}
    assert d.read_delta(spark, p).count() == 3


def test_metrics_survive_sql_describe_history(spark, tmp_path):
    from census_asc5_data_pipeline_spark.sources.merge import query_sql

    p = str(tmp_path / "t")
    _mk(spark, p, n=6)
    out = query_sql(
        spark, "DESCRIBE HISTORY t", {"t": ("delta", p)}
    )
    row = out.collect()[0]
    assert int(row.operation_metrics["numOutputRows"]) == 6

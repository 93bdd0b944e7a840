"""The driver-native Delta log plane.

Below ``_SPARK_PRUNE_THRESHOLD`` the log plane reads and writes
checkpoint parquet with pyarrow on the driver: replaying a small table
with a checkpoint and checkpointing it launch no Spark job. The
pyarrow reader returns exactly the action dicts a Spark read gives
(``Row.asDict(recursive=True)``, maps as dicts) over the classic,
multipart, V2 json-manifest and V2 parquet-manifest + sidecar forms,
and the files pyarrow writes read back through Spark. Small
driver-side frames (partition values, deletion-vector positions,
row-tracking bases) are built through Arrow, so no read starts a
Python worker. Above the threshold the distributed checkpoint takes
its add count from an ``observe()`` on the write, not a count job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from census_asc5_data_pipeline_spark.sources import delta_io as d


def _write(spark, path, lo, hi, **kw):
    rows = [(j, float(j), j % 2) for j in range(lo, hi)]
    d.write_delta(
        spark.createDataFrame(rows, "k long, v double, g int").coalesce(1),
        path,
        **kw,
    )


def _table(spark, path, policy="classic"):
    """A partitioned table with a property, a txn fence, a domain, a
    deletion vector and a removed file — every map and struct column
    of a checkpoint holds a value."""
    _write(
        spark, path, 0, 5, partition_by=["g"],
        configuration={"a": "1", "delta.enableDeletionVectors": "true"},
    )
    _write(spark, path, 5, 10, txn=("app", 3))
    _write(spark, path, 10, 15)
    d.set_domain_metadata(spark, path, "my.domain", '{"x": 1}')
    if policy == "v2":
        d.set_delta_properties(
            spark, path, {"delta.checkpointPolicy": "v2"}
        )
    d.delete_delta_where(spark, path, "k = 1", mode="dv")
    d.delete_delta_where(spark, path, "k = 6", mode="cow")


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under its own job group."""
    sc = spark.sparkContext
    group = f"log-plane-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_actions(spark, path, version):
    """The checkpoint's actions as a Spark read returns them: the
    parquet files (manifest or classic/multipart parts) and any
    sidecars through ``spark.read.parquet(...).collect()``."""
    _kind, files = d._resolve_checkpoint(path, version)
    if files[0].endswith(".json"):
        rows = list(d._json_lines(files[0]))
    else:
        rows = [
            r.asDict(recursive=True)
            for r in spark.read.parquet(*files).collect()
        ]
    out, sidecars = [], []
    for r in rows:
        if r.get("sidecar"):
            sidecars.append(
                os.path.join(
                    d._log_dir(path), "_sidecars",
                    os.path.basename(r["sidecar"]["path"]),
                )
            )
        elif r.get("checkpointMetadata") is None:
            out.append(r)
    if sidecars:
        out += [
            r.asDict(recursive=True)
            for r in spark.read.parquet(*sidecars).collect()
        ]
    return out


def _key(a: dict) -> str:
    return json.dumps(a, sort_keys=True)


def _v2_parquet_manifest(spark, path, version):
    """Replace the V2 json manifest at ``version`` with a Spark-written
    parquet manifest of the same lines (sidecars unchanged)."""
    from pyspark.sql import types as T

    log = d._log_dir(path)
    _kind, (man,) = d._resolve_checkpoint(path, version)
    lines = list(d._json_lines(man))
    schema = T.StructType(
        [
            T.StructField(
                "checkpointMetadata",
                T.StructType(
                    [
                        T.StructField("version", T.LongType()),
                        T.StructField(
                            "tags", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                ),
            ),
            T.StructField(
                "sidecar",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("sizeInBytes", T.LongType()),
                        T.StructField("modificationTime", T.LongType()),
                    ]
                ),
            ),
        ]
        + [
            f for f in d._CKPT_SCHEMA.fields
            if f.name not in ("add", "remove")
        ]
    )
    tmp = path + "-manifest"
    spark.createDataFrame(
        [{f.name: ln.get(f.name) for f in schema.fields} for ln in lines],
        schema,
    ).coalesce(1).write.parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    os.replace(
        os.path.join(tmp, part),
        os.path.join(log, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"),
    )
    shutil.rmtree(tmp)
    os.remove(man)


@pytest.fixture
def fixtures(spark, tmp_path, monkeypatch):
    """(path, checkpoint version) per checkpoint form: classic and V2
    json (pyarrow-written by create_checkpoint), multipart (the
    distributed plane, Spark-written) and a Spark-written V2 parquet
    manifest over the sidecars pyarrow wrote."""
    out = {}
    p = str(tmp_path / "classic")
    _table(spark, p)
    out["classic"] = (p, d.create_checkpoint(spark, p))
    p = str(tmp_path / "multipart")
    _table(spark, p)
    d.create_checkpoint(spark, p)
    _write(spark, p, 20, 22)
    d.delete_delta_where(spark, p, "k = 11", mode="dv")
    monkeypatch.setattr(d, "_SPARK_PRUNE_THRESHOLD", 0)
    monkeypatch.setattr(d, "_CKPT_PART_ROWS", 4)
    out["multipart"] = (p, d.create_checkpoint(spark, p))
    monkeypatch.undo()
    for form in ("v2_json", "v2_parquet"):
        p = str(tmp_path / form)
        _table(spark, p, policy="v2")
        monkeypatch.setattr(d, "_CKPT_PART_ROWS", 4)
        out[form] = (p, d.create_checkpoint(spark, p))
        monkeypatch.undo()
    _v2_parquet_manifest(spark, *out["v2_parquet"])
    return out


def test_reader_parity_every_form(spark, fixtures):
    """The pyarrow reader returns the Spark read's action dicts, maps
    as dicts, for every checkpoint form; the forms pyarrow wrote read
    back through Spark."""
    kinds = {}
    for form, (p, v) in fixtures.items():
        kinds[form] = d._resolve_checkpoint(p, v)[0]
        got = d._checkpoint_actions(p, v)
        want = _spark_actions(spark, p, v)
        assert sorted(map(_key, got)) == sorted(map(_key, want)), form
        adds = [a["add"] for a in got if a.get("add")]
        assert adds and all(
            isinstance(a["partitionValues"], dict) for a in adds
        )
        assert {a["partitionValues"]["g"] for a in adds} == {"0", "1"}
        assert any(a["deletionVector"] for a in adds)
        (meta,) = [a["metaData"] for a in got if a.get("metaData")]
        assert meta["configuration"]["a"] == "1"
        assert meta["format"]["options"] == {}
        assert [a["txn"]["version"] for a in got if a.get("txn")] == [3]
        assert [
            a["domainMetadata"]["domain"]
            for a in got if a.get("domainMetadata")
        ] == ["my.domain"]
    assert kinds == {
        "classic": "classic", "multipart": "multipart",
        "v2_json": "v2", "v2_parquet": "v2",
    }
    assert d._resolve_checkpoint(*fixtures["v2_parquet"])[1][0].endswith(
        ".parquet"
    )
    mp, mv = fixtures["multipart"]
    assert len(d._resolve_checkpoint(mp, mv)[1]) > 1
    sides = os.listdir(os.path.join(d._log_dir(fixtures["v2_json"][0]), "_sidecars"))
    assert len([f for f in sides if f.endswith(".parquet")]) > 1


def test_pyarrow_checkpoints_read_back_through_spark(
    spark, fixtures, monkeypatch
):
    """With the pre-checkpoint commits gone, the table reads the same
    through the driver replay and through the distributed plane, which
    scans the pyarrow-written checkpoint files with Spark."""
    for form in ("classic", "v2_json", "v2_parquet"):
        p, v = fixtures[form]
        want = sorted(tuple(r) for r in d.read_delta(spark, p).collect())
        for old in range(v + 1):
            os.remove(d._commit_file(p, old))
        assert sorted(
            tuple(r) for r in d.read_delta(spark, p).collect()
        ) == want, form
        monkeypatch.setattr(d, "_SPARK_PRUNE_THRESHOLD", 0)
        assert d._replay_pruned_spark(spark, p, None, None, "k > 2")
        assert sorted(
            tuple(r)
            for r in d.read_delta(spark, p, predicate="k >= 0").collect()
        ) == want, form
        monkeypatch.undo()


@pytest.mark.parametrize("policy", ["classic", "v2"])
def test_small_table_log_plane_runs_no_spark_job(
    spark, tmp_path, policy
):
    """Checkpointing a small table and replaying it over the
    checkpoint (classic, V2 json manifest and V2 parquet manifest,
    each with sidecars for V2) launch no Spark job."""
    p = str(tmp_path / "t")
    _table(spark, p, policy=policy)
    # the counter sees the jobs of a data read
    assert _jobs(spark, lambda: d.read_delta(spark, p).collect()) >= 1
    v = None

    def checkpoint():
        nonlocal v
        v = d.create_checkpoint(spark, p)

    assert _jobs(spark, checkpoint) == 0
    assert d._resolve_checkpoint(p, v)[0] == policy
    _write(spark, p, 30, 32)
    manifests = ["json"] + (["parquet"] if policy == "v2" else [])
    for manifest in manifests:
        if manifest == "parquet":
            _v2_parquet_manifest(spark, p, v)
        state = {}

        def replay():
            state["actions"] = d._checkpoint_actions(p, v)
            state["replay"] = d._replay(spark, p, None)

        assert _jobs(spark, replay) == 0, manifest
        assert len(state["replay"][2]) == len(
            [a for a in state["actions"] if a.get("add")]
        ) + 2


def _n_actions(path: str, version: int) -> int:
    kind, files = d._resolve_checkpoint(path, version)
    if kind != "v2":
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    lines = list(d._json_lines(files[0]))
    sides = [
        os.path.join(d._log_dir(path), "_sidecars", ln["sidecar"]["path"])
        for ln in lines if "sidecar" in ln
    ]
    return len(lines) + sum(
        pq.ParquetFile(f).metadata.num_rows for f in sides
    )


@pytest.mark.parametrize(
    "policy,ceiling", [("classic", 7), ("v2", 5)]
)
def test_distributed_checkpoint_needs_no_count_job(
    spark, tmp_path, monkeypatch, policy, ceiling
):
    """Above the threshold (forced to 0) the checkpoint sizes its
    shards from the prior pointer and the tail and counts its adds
    with an observe() on the write: multipart and sharded V2 each run
    one job fewer than with the separate count, and the pointer's size
    is still exact."""
    p = str(tmp_path / "t")
    _table(spark, p, policy=policy)
    d.create_checkpoint(spark, p)
    _write(spark, p, 20, 22)
    d.delete_delta_where(spark, p, "k = 11", mode="dv")
    want = sorted(tuple(r) for r in d.read_delta(spark, p).collect())
    monkeypatch.setattr(d, "_SPARK_PRUNE_THRESHOLD", 0)
    monkeypatch.setattr(d, "_CKPT_PART_ROWS", 4)
    v = None

    def checkpoint():
        nonlocal v
        v = d.create_checkpoint(spark, p)

    n_jobs = _jobs(spark, checkpoint)
    assert n_jobs <= ceiling
    kind, files = d._resolve_checkpoint(p, v)
    assert kind == ("multipart" if policy == "classic" else "v2")
    doc = json.load(open(os.path.join(d._log_dir(p), "_last_checkpoint")))
    assert doc["size"] == _n_actions(p, v)
    monkeypatch.undo()
    for old in range(v + 1):
        os.remove(d._commit_file(p, old))
    assert sorted(tuple(r) for r in d.read_delta(spark, p).collect()) == want


def test_reads_start_no_python_worker(spark, tmp_path, monkeypatch):
    """Partitioned, deletion-vector and row-tracking reads build their
    driver-side frames through Arrow: with ``SparkContext.parallelize``
    (the list ``createDataFrame`` route) refusing, each returns the
    rows it returns without the patch."""
    from pyspark import SparkContext

    part, dv, rt = (str(tmp_path / n) for n in ("part", "dv", "rt"))
    _write(spark, part, 0, 6, partition_by=["g"])
    _write(spark, dv, 0, 6)
    d.delete_delta_where(spark, dv, "k IN (1, 4)", mode="dv")
    _write(spark, rt, 0, 4, configuration={"delta.enableRowTracking": "true"})
    _write(spark, rt, 4, 6)
    reads = {
        "part": lambda: d.read_delta(spark, part),
        "dv": lambda: d.read_delta(spark, dv),
        "rt": lambda: d.read_delta(spark, rt, row_tracking=True),
        "pruned": lambda: d.read_delta(spark, part, partition_filter={"g": "1"}),
    }
    want = {n: sorted(tuple(r) for r in f().collect()) for n, f in reads.items()}
    assert [r[0] for r in want["part"]] == list(range(6))
    assert [r[0] for r in want["dv"]] == [0, 2, 3, 5]
    assert [r[3] for r in want["rt"]] == list(range(6))
    assert [r[0] for r in want["pruned"]] == [1, 3, 5]

    def refuse(*_a, **_k):
        raise AssertionError("parallelize called on a read path")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    for name, read in reads.items():
        assert sorted(tuple(r) for r in read().collect()) == want[name], name


def test_stream_schema_reads_a_checkpoint_only_log(spark, tmp_path):
    """The tail stream source takes its schema from the checkpoint
    when the commits that set metaData are gone; the checkpoint's
    configuration map arrives as a dict, so a column-mapped table
    resolves its physical names."""
    from census_asc5_data_pipeline_spark.sources import delta_stream_source

    p = str(tmp_path / "t")
    _write(spark, p, 0, 4, configuration={"delta.columnMapping.mode": "name"})
    v = d.create_checkpoint(spark, p)
    os.remove(d._commit_file(p, v))
    fields, pcols, physical_of = delta_stream_source._log_meta(p)
    assert [f["name"] for f in fields] == ["k", "v", "g"]
    assert pcols == []
    assert sorted(physical_of) == ["g", "k", "v"]
    assert all(ph.startswith("col-") for ph in physical_of.values())

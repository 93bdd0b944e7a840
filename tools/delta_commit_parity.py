"""Delta commit parity between two checkouts of the engine.

Runs every Delta commit verb once — write (create / append /
overwrite), DELETE / UPDATE / MERGE in CoW and DV mode (MERGE also
with every clause kind, with schema evolution, and into an identity +
generated-column table), OPTIMIZE, SET
TBLPROPERTIES, domain metadata, ADD / RENAME / DROP COLUMNS, ALTER
COLUMN TYPE, CLUSTER BY, RESTORE, row-tracking enablement, shallow
and deep CLONE — on a plain table and on a column-mapped +
row-tracking + CDF table, then writes each commit's parsed actions
with timestamps, file names and UUIDs masked. Four more tables write
the checkpoint forms the auto-checkpoint never reaches: multipart
(the distributed plane, forced by patching ``_SPARK_PRUNE_THRESHOLD``
to 0), V2 from the driver, and V2 sharded into sidecars (a small
``_CKPT_PART_ROWS``) from the driver and from the distributed plane.
Every checkpoint is dumped as its masked, sorted action multiset —
read with pyarrow from the parts, the manifest and the sidecars —
next to the ``_last_checkpoint`` pointer. uuid4 is seeded per verb so
both checkouts name (and order) their files alike.

    python tools/delta_commit_parity.py run <repo_root> <work_dir> <out.json>
    python tools/delta_commit_parity.py compare <a.json> <b.json>

Run ``run`` once per checkout (e.g. the parent from ``git archive``),
then ``compare`` prints every commit and every checkpoint whose
actions differ, and the pointer and checkpoint files when they
differ.
"""
import json
import os
import random
import re
import shutil
import sys
import uuid

# deterministic file names and ids, so two runs name (and order)
# their files alike
_rng = random.Random(7)
uuid.uuid4 = lambda: uuid.UUID(int=_rng.getrandbits(128), version=4)

if sys.argv[1] == "compare":
    a, b = (json.load(open(f)) for f in sys.argv[2:4])
    n_diff = n_ckpt_diff = 0
    for table in sorted(set(a) | set(b)):
        ta, tb = a.get(table, {}), b.get(table, {})
        for kind in ("commits", "checkpoint_actions"):
            ca, cb = ta.get(kind, {}), tb.get(kind, {})
            bad = sorted(
                {v for v in set(ca) | set(cb) if ca.get(v) != cb.get(v)},
                key=int,
            )
            if kind == "commits":
                n_diff += len(bad)
            else:
                n_ckpt_diff += len(bad)
            print(
                f"{table}: {len(ca)} vs {len(cb)} {kind}, differing: {bad}"
            )
            for v in bad:
                print(f"  v{v}:\n    a: {ca.get(v)}\n    b: {cb.get(v)}")
        for kind in ("checkpoints", "last_checkpoint"):
            if ta.get(kind) != tb.get(kind):
                n_ckpt_diff += kind == "last_checkpoint"
                print(f"  {kind} a={ta.get(kind)} b={tb.get(kind)}")
    print("commits that differ:", n_diff)
    print("checkpoints (actions or pointer) that differ:", n_ckpt_diff)
    sys.exit(0)

root, work, out = sys.argv[2:5]
sys.path.insert(0, root)
os.chdir(root)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

spark = (
    SparkSession.builder.master("local[2]")
    .appName("parity")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    # AQE re-plans a join over a freshly cached frame from its runtime
    # size, so a CDF MERGE's change-file layout varies between
    # identical runs (6 or 7 cdc files for the same statement); off,
    # every run lays its files out alike
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from census_asc5_data_pipeline_spark.sources import delta_io as d  # noqa
from census_asc5_data_pipeline_spark.sources import merge as m  # noqa

shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)

TS_KEYS = {
    "timestamp", "modificationTime", "deletionTimestamp", "createdTime",
    "inCommitTimestamp", "lastUpdated",
}
UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)
HEX = re.compile(r"[0-9a-f]{32}")


def mask(x, key=None):
    if isinstance(x, dict):
        return {
            k: ("<ts>" if k in TS_KEYS else mask(v, k))
            for k, v in x.items()
        }
    if isinstance(x, list):
        return [mask(v) for v in x]
    if isinstance(x, str):
        if key == "pathOrInlineDv":
            return "<dv>"
        if key == "delta.inCommitTimestampEnablementTimestamp":
            return "<ts>"
        if key in ("source",):
            return "<src>"
        x = x.replace(work, "<work>")
        return HEX.sub("<hex>", UUID.sub("<uuid>", x))
    return x


def _plain(x):
    """A pyarrow row value as plain JSON: null fields dropped, map
    columns (lists of key/value pairs) as dicts."""
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items() if v is not None}
    if isinstance(x, list):
        if x and all(isinstance(e, tuple) and len(e) == 2 for e in x):
            return {k: _plain(v) for k, v in x}
        return [_plain(v) for v in x]
    return x


def _rows(fp):
    if fp.endswith(".json"):
        with open(fp) as fh:
            return [json.loads(ln) for ln in fh if ln.strip()]
    import pyarrow.parquet as pq

    return [_plain(r) for r in pq.read_table(fp).to_pylist()]


def checkpoint_actions(log, files):
    """The masked, sorted actions of one checkpoint's files, sidecar
    rows included (a sidecar's byte size follows its row order, which
    may change, so it is masked)."""
    acts = []
    for f in files:
        for r in _rows(os.path.join(log, f)):
            sc = r.get("sidecar")
            if sc:
                acts.extend(
                    _rows(
                        os.path.join(
                            log, "_sidecars", os.path.basename(sc["path"])
                        )
                    )
                )
                sc = dict(sc, sizeInBytes="<size>")
                r = dict(r, sidecar=sc)
            acts.append(r)
    return sorted(
        (mask(a) for a in acts), key=lambda a: json.dumps(a, sort_keys=True)
    )


def dump(path):
    log = os.path.join(path, "_delta_log")
    commits = {}
    for v in d.delta_versions(path):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            commits[v] = [
                mask(json.loads(ln)) for ln in fh if ln.strip()
            ]
    ckpts = sorted(f for f in os.listdir(log) if ".checkpoint." in f)
    by_version = {}
    for f in ckpts:
        by_version.setdefault(int(f[:20]), []).append(f)
    lc = os.path.join(log, "_last_checkpoint")
    return {
        "commits": commits,
        "checkpoints": [mask(f) for f in ckpts],
        "checkpoint_actions": {
            v: checkpoint_actions(log, fs) for v, fs in by_version.items()
        },
        "last_checkpoint": json.load(open(lc)) if os.path.exists(lc) else None,
    }


_step = [0]


def S(fn, *a, **k):
    """Run one verb with the uuid stream reseeded, so a verb's file
    names do not depend on how many ids earlier verbs drew."""
    _step[0] += 1
    _rng.seed(_step[0])
    return fn(*a, **k)


def df(rows, ddl="k long, v double, g int"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def scenario(tag, conf):
    p = os.path.join(work, tag)
    S(
        d.write_delta, df([(i, float(i), i % 2) for i in range(20)]), p,
        configuration=conf,
    )
    S(d.write_delta, df([(i, float(i), i % 2) for i in range(20, 30)]), p)
    S(d.delete_delta_where, spark, p, "k < 3", mode="cow")
    S(d.delete_delta_where, spark, p, "k = 5", mode="dv")
    for k, mode in ((6, "cow"), (7, "dv")):
        S(
            m.update_where, spark, "delta", p, f"k = {k}",
            {"v": "v + 100"}, mode=mode,
        )
    src = df([(8, 80.0, 0), (100, 1.0, 0)])
    for mode in ("cow", "dv"):
        S(
            m.merge_into, spark, "delta", p, src, "t.k = s.k",
            matched=[("update", None, {"v": "s.v"})],
            not_matched={"k": "s.k", "v": "s.v", "g": "s.g"},
            mode=mode,
        )
        src = df([(9, 90.0, 1), (101, 1.0, 1)])
    # every clause kind: a delete, a conditional update, a NOT MATCHED
    # BY SOURCE update (it scans every file) and a conditional insert
    # list, whose second clause catches what the first skips
    for mode, lo in (("cow", 10), ("dv", 13)):
        S(
            m.merge_into, spark, "delta", p,
            df([
                (lo, -1.0, 0), (lo + 1, 110.0, 1), (lo + 2, 120.0, 0),
                (lo + 92, 2.0, 0), (lo + 93, -3.0, 1),
            ]),
            "t.k = s.k",
            matched=[
                ("delete", "s.v < 0"), ("update", "s.g = 1", {"v": "s.v"}),
            ],
            not_matched=[
                ("s.v > 0", {"k": "s.k", "v": "s.v", "g": "s.g"}),
                (None, {"k": "s.k", "v": "0.0", "g": "s.g"}),
            ],
            not_matched_by_source=[("update", "t.k >= 25", {"v": "t.v + 1"})],
            mode=mode,
        )
    S(d.optimize_delta, spark, p)
    S(
        d.write_delta, df([(i, 0.0, 0) for i in range(3)]), p,
        mode="overwrite",
    )
    S(
        m.merge_into, spark, "delta", p,
        df([(1, 160.0, 0, "x"), (106, 6.0, 1, "y")],
           "k long, v double, g int, extra string"),
        "t.k = s.k",
        matched=[("update", None, {"v": "s.v", "extra": "s.extra"})],
        not_matched={"k": "s.k", "v": "s.v", "g": "s.g", "extra": "s.extra"},
        evolve_schema=True,
    )
    S(
        d.set_delta_properties, spark, p,
        {"a": "1", "delta.checkpointInterval": "4"},
    )
    S(d.set_domain_metadata, spark, p, "my.domain", '{"x": 1}')
    S(d.add_delta_columns, spark, p, "note string")
    S(d.alter_delta_column_type, spark, p, "g", "bigint")
    if conf:
        S(d.rename_delta_column, spark, p, "note", "memo")
        S(d.drop_delta_columns, spark, p, ["memo"])
    S(d.set_clustering_columns, spark, p, ["k"])
    S(d.restore_delta, spark, p, 3)
    if not conf:
        S(d.enable_row_tracking, spark, p)
    S(
        d.set_delta_properties, spark, p,
        {"delta.enableInCommitTimestamps": "true"},
    )
    sch = d.read_delta(spark, p).schema
    row = tuple({"k": 50, "v": 5.0, "g": 1}.get(f.name) for f in sch)
    S(d.write_delta, spark.createDataFrame([row], sch), p)
    out_ = {tag: dump(p)}
    for shallow in (True, False):
        c = os.path.join(work, f"{tag}_clone_{shallow}")
        S(d.clone_delta, spark, p, c, shallow=shallow, version=2)
        out_[f"{tag}_clone_{shallow}"] = dump(c)
    out_.update(idgen_scenario(f"{tag}_idgen", conf))
    return out_


def idgen_scenario(tag, conf):
    """MERGE into a table with an identity column ``k`` and a column
    ``h`` generated from ``v``: updates regenerate ``h``, inserts
    allocate ``k`` and compute ``h``, in CoW and in DV mode."""
    p = os.path.join(work, tag)
    sch = T.StructType([
        T.StructField("k", T.LongType(), False, {
            "delta.identity.start": 1,
            "delta.identity.step": 1,
            "delta.identity.allowExplicitInsert": False,
        }),
        T.StructField("v", T.DoubleType(), True),
        T.StructField(
            "h", T.DoubleType(), True, {"delta.generationExpression": "v * 2"}
        ),
    ])
    S(d.write_delta, spark.createDataFrame([], sch), p, configuration=conf)
    S(d.write_delta, df([(float(i),) for i in range(10)], "v double"), p)
    for mode, k in (("cow", 2), ("dv", 3)):
        S(
            m.merge_into, spark, "delta", p,
            df([(k, 20.0 + k), (100 + k, 1.0)], "k long, v double"),
            "t.k = s.k",
            matched=[("update", None, {"v": "s.v"})],
            not_matched={"v": "s.v"},
            mode=mode,
        )
    return {tag: dump(p)}


def ckpt_scenario(tag, policy, distributed, part_rows=None):
    """A table whose last checkpoint is ``policy`` (classic|v2) from
    the driver, or from the distributed plane (a prior checkpoint,
    then two more commits, then ``_SPARK_PRUNE_THRESHOLD`` = 0), with
    adds, removes, a DV, a txn fence and a domain to carry."""
    p = os.path.join(work, tag)
    for i in range(4):
        rows = [(j, float(j), j % 2) for j in range(i * 5, i * 5 + 5)]
        S(d.write_delta, df(rows), p)
    S(d.write_delta, df([(90, 9.0, 0)]), p, txn=("app", 3))
    S(d.set_domain_metadata, spark, p, "my.domain", '{"x": 1}')
    if policy == "v2":
        S(d.set_delta_properties, spark, p, {"delta.checkpointPolicy": "v2"})
    S(d.delete_delta_where, spark, p, "k = 1", mode="dv")
    S(d.delete_delta_where, spark, p, "k = 6", mode="cow")
    threshold, rows = d._SPARK_PRUNE_THRESHOLD, d._CKPT_PART_ROWS
    if part_rows is not None:
        d._CKPT_PART_ROWS = part_rows
    try:
        if distributed:
            S(d.create_checkpoint, spark, p)
            S(d.write_delta, df([(91, 9.0, 1)]), p, txn=("app", 4))
            S(d.delete_delta_where, spark, p, "k = 11", mode="dv")
            d._SPARK_PRUNE_THRESHOLD = 0
        S(d.create_checkpoint, spark, p)
    finally:
        d._SPARK_PRUNE_THRESHOLD, d._CKPT_PART_ROWS = threshold, rows
    return {tag: dump(p)}


res = {}
res.update(scenario("plain", None))
res.update(
    scenario(
        "mapped_rt",
        {
            "delta.columnMapping.mode": "name",
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
)
res.update(ckpt_scenario("ckpt_multipart", "classic", True))
res.update(ckpt_scenario("ckpt_v2_driver", "v2", False))
res.update(ckpt_scenario("ckpt_v2_sharded_driver", "v2", False, 2))
res.update(ckpt_scenario("ckpt_v2_sharded_dist", "v2", True, 2))
with open(out, "w") as fh:
    json.dump(res, fh, indent=1, sort_keys=True)
print("versions:", {k: len(v["commits"]) for k, v in res.items()})
print("checkpoint files:", {k: v["checkpoints"] for k, v in res.items()})
spark.stop()

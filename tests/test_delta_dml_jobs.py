"""Spark jobs per Delta row-level statement.

DELETE, UPDATE and MERGE commit through one path
(``delta_io._row_level_delta``); each statement's job count is pinned
at or below the count measured before MERGE joined that path, for
both modes (copy-on-write and deletion vectors) with the change data
feed off and on. Jobs are counted with ``SparkContext.statusTracker``
under one job group per statement, on a 40-row table in two files,
in a fresh ``local[2]`` session (a subprocess, so the counts do not
depend on the test session's parallelism or caches).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

_SCRIPT = """
import json, os, sys, tempfile
sys.path.insert(0, {repo!r})
from census_asc5_data_pipeline_spark import get_spark
from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources.merge import (
    merge_into, update_where,
)

spark = get_spark("dml_jobs", master="local[2]", shuffle_partitions=2)
sc = spark.sparkContext
work = tempfile.mkdtemp()
counts = {{}}


def table(name, cdf):
    p = os.path.join(work, name)
    conf = {{"delta.enableChangeDataFeed": "true"}} if cdf else None
    for lo in (0, 20):
        rows = [(i, float(i), i % 2) for i in range(lo, lo + 20)]
        d.write_delta(
            spark.createDataFrame(rows, "k long, v double, g int").coalesce(1),
            p, configuration=conf if lo == 0 else None,
        )
    return p


def jobs(key, fn):
    sc.setJobGroup(key, key)
    try:
        fn()
    finally:
        sc.setJobGroup("idle", "idle")
    counts[key] = len(sc.statusTracker().getJobIdsForGroup(key))


for cdf in (False, True):
    for mode in ("cow", "dv"):
        tag = f"{{mode}}_cdf{{int(cdf)}}"
        p = table(f"delete_{{tag}}", cdf)
        jobs(f"DELETE/{{tag}}",
             lambda: d.delete_delta_where(spark, p, "k < 3", mode=mode))
        p = table(f"update_{{tag}}", cdf)
        jobs(f"UPDATE/{{tag}}",
             lambda: update_where(spark, "delta", p, "k = 6",
                                  {{"v": "v + 100"}}, mode=mode))
        p = table(f"merge_{{tag}}", cdf)
        src = spark.createDataFrame(
            [(3, 30.0, 1), (4, -1.0, 0), (100, 1.0, 0)],
            "k long, v double, g int",
        )
        jobs(f"MERGE/{{tag}}",
             lambda: merge_into(
                 spark, "delta", p, src, "t.k = s.k",
                 matched=[("delete", "s.v < 0"),
                          ("update", None, {{"v": "s.v"}})],
                 not_matched={{"k": "s.k", "v": "s.v", "g": "s.g"}},
                 mode=mode,
             ))
print("COUNTS " + json.dumps(counts, sort_keys=True))
spark.stop()
"""

# measured before MERGE committed through _row_level_delta
_CEILING = {
    "DELETE/cow_cdf0": 3,
    "DELETE/cow_cdf1": 4,
    "DELETE/dv_cdf0": 2,
    "DELETE/dv_cdf1": 3,
    "UPDATE/cow_cdf0": 4,
    "UPDATE/cow_cdf1": 5,
    "UPDATE/dv_cdf0": 4,
    "UPDATE/dv_cdf1": 5,
    "MERGE/cow_cdf0": 9,
    "MERGE/cow_cdf1": 14,
    "MERGE/dv_cdf0": 11,
    "MERGE/dv_cdf1": 15,
}


def _counts() -> dict[str, int]:
    repo = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=repo)],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("COUNTS ")
    )
    return json.loads(line[len("COUNTS "):])


@pytest.fixture(scope="module")
def counts():
    return _counts()


@pytest.mark.parametrize("statement", sorted(_CEILING))
def test_row_level_jobs_at_most_parent(counts, statement):
    assert counts[statement] <= _CEILING[statement], counts

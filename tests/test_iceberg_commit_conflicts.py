"""Concurrent Iceberg writers through the one commit path
(``iceberg_io._commit_metadata``): every metadata version is claimed
with a put-if-absent link, so no commit is ever silently overwritten.

- metadata-only verbs rebuild on the newest head and retry;
- pure appends re-list whatever landed first and retry, leaving no
  loser manifests behind;
- commits planned against the live set (position/DV deletes,
  rewrites, MoR MERGE, overwrite) abort with ``ValueError
  ("concurrent commit landed …")`` instead;
- ``version-hint.text`` is advisory: a stale hint never hides the
  newest committed version from readers or writers.

Races are forced with a barrier on each worker thread's FIRST
metadata listing, so every writer plans against the same head."""

from __future__ import annotations

import json
import os
import threading

import pyspark.sql.functions as F
import pytest

from census_asc5_data_pipeline_spark.sources import iceberg_io as ice


def _mk(spark, path: str, lo: int, hi: int) -> int:
    return ice.write_iceberg(
        spark.range(lo, hi).coalesce(1).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        ),
        path,
    )


def _ids(spark, path: str) -> list[int]:
    return sorted(r.id for r in ice.read_iceberg(spark, path).collect())


def _race(monkeypatch, fns: list) -> list:
    """Run ``fns`` in one thread each; every thread blocks on its
    first metadata listing until all have reached it. Returns each
    thread's result or raised exception, in order."""
    barrier = threading.Barrier(len(fns), timeout=120)
    first = threading.local()
    real = ice._metadata_files

    def listing(path):
        if not getattr(first, "done", False):
            first.done = True
            barrier.wait()
        return real(path)

    monkeypatch.setattr(ice, "_metadata_files", listing)
    out: list = [None] * len(fns)

    def run(i, fn):
        try:
            out[i] = fn()
        except Exception as e:  # noqa: BLE001 — reported to the test
            out[i] = e

    threads = [
        threading.Thread(target=run, args=(i, fn))
        for i, fn in enumerate(fns)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "writer thread hung"
    monkeypatch.setattr(ice, "_metadata_files", real)
    return out


def _referenced_avros(path: str) -> set[str]:
    _v, meta = ice._current_metadata(path)
    out: set[str] = set()
    for s in meta["snapshots"]:
        ml = os.path.abspath(ice._local(s["manifest-list"]))
        out.add(ml)
        _sch, rows = ice.read_container_generic(ml)
        out |= {os.path.abspath(ice._local(m["manifest_path"])) for m in rows}
    return out


def _avros_on_disk(path: str) -> set[str]:
    md = ice._meta_dir(path)
    return {
        os.path.abspath(os.path.join(md, f))
        for f in os.listdir(md)
        if f.endswith(".avro")
    }


def _referenced_files(path: str) -> set[str]:
    """Every data, delete and Puffin file a manifest of any snapshot
    in the head lists."""
    _v, meta = ice._current_metadata(path)
    out: set[str] = set()
    for s in meta["snapshots"]:
        _sch, rows = ice.read_container_generic(ice._local(s["manifest-list"]))
        for m in rows:
            _sch, entries = ice.read_container_generic(
                ice._local(m["manifest_path"])
            )
            out |= {
                os.path.abspath(ice._local(e["data_file"]["file_path"]))
                for e in entries
            }
    return out


def _files_on_disk(path: str) -> set[str]:
    """The parquet files under ``data/`` and the Puffin files under
    ``metadata/``."""
    out: set[str] = set()
    for sub, ext in (("data", ".parquet"), ("metadata", ".puffin")):
        for root, _dirs, names in os.walk(os.path.join(path, sub)):
            out |= {
                os.path.abspath(os.path.join(root, n))
                for n in names
                if n.endswith(ext) and not n.startswith(".")
            }
    return out


def test_concurrent_property_sets_keep_both_keys(spark, tmp_path, monkeypatch):
    """The lost update: two SET TBLPROPERTIES planned on the same
    head. The loser's claim hits EEXIST, re-reads, and rebuilds on
    the winner's version — both keys survive, versions 2 and 3."""
    p = str(tmp_path / "t")
    _mk(spark, p, 0, 5)  # v1
    got = _race(
        monkeypatch,
        [
            lambda: ice.set_iceberg_properties(p, {"ka": "1"}),
            lambda: ice.set_iceberg_properties(p, {"kb": "2"}),
        ],
    )
    assert sorted(got) == [2, 3], got
    v, meta = ice._current_metadata(p)
    assert v == 3
    assert {"ka": "1", "kb": "2"}.items() <= meta["properties"].items()


def test_concurrent_appends_all_land(spark, tmp_path, monkeypatch):
    """Four appends planned on one head give four snapshots, every
    row reads back, and no losing attempt leaves a manifest or
    manifest list behind."""
    p = str(tmp_path / "t")
    _mk(spark, p, 0, 5)  # v1

    def append(lo):
        return lambda: _mk(spark, p, lo, lo + 5)

    got = _race(monkeypatch, [append(lo) for lo in (10, 20, 30, 40)])
    assert sorted(got) == [2, 3, 4, 5], got
    assert _ids(spark, p) == sorted(
        i for lo in (0, 10, 20, 30, 40) for i in range(lo, lo + 5)
    )
    _v, meta = ice._current_metadata(p)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2, 3, 4, 5]
    assert _avros_on_disk(p) == _referenced_avros(p)


def test_losing_append_cleans_up_and_retries(spark, tmp_path, monkeypatch):
    """Deterministic EEXIST: another append claims the version this
    append is about to link. The loser deletes its own manifest and
    manifest list, re-lists the winner's, and commits one version
    later — snapshot id still equals the metadata version."""
    p = str(tmp_path / "t")
    _mk(spark, p, 0, 5)  # v1
    real = ice._put_if_absent
    state = {"raced": False}

    def racing_put(dest, text):
        if not state["raced"]:
            state["raced"] = True
            _mk(spark, p, 100, 103)  # claims v2 first
        return real(dest, text)

    monkeypatch.setattr(ice, "_put_if_absent", racing_put)
    assert ice.write_iceberg(
        spark.range(10, 15).coalesce(1).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        ),
        p,
    ) == 3
    monkeypatch.setattr(ice, "_put_if_absent", real)
    assert _ids(spark, p) == [0, 1, 2, 3, 4, 10, 11, 12, 13, 14, 100, 101, 102]
    _v, meta = ice._current_metadata(p)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2, 3]
    assert meta["snapshots"][-1]["parent-snapshot-id"] == 2
    assert _avros_on_disk(p) == _referenced_avros(p)


def test_conflicting_position_deletes_one_aborts(spark, tmp_path, monkeypatch):
    """Two position deletes planned on one head: exactly one commits,
    the other raises ``concurrent …`` — and the table shows exactly
    the winner's delete (no commit silently lost)."""
    p = str(tmp_path / "t")
    _mk(spark, p, 0, 10)  # v1
    preds = ["id < 2", "id >= 5"]
    got = _race(
        monkeypatch,
        [
            (lambda w=w: ice.delete_iceberg_positions(spark, p, w))
            for w in preds
        ],
    )
    wins = [i for i, r in enumerate(got) if r == 2]
    errs = [r for r in got if isinstance(r, ValueError)]
    assert len(wins) == 1 and len(errs) == 1, got
    assert "concurrent" in str(errs[0])
    survivors = {0: list(range(2, 10)), 1: list(range(5))}[wins[0]]
    assert _ids(spark, p) == survivors
    assert ice._current_metadata(p)[0] == 2


def test_rewrite_racing_append_aborts(spark, tmp_path, monkeypatch):
    """A compaction planned before an append lands must not commit:
    its manifest lists only the files it planned against, so a
    rebuild on the newer head would drop the appended rows. The
    append wins, the rewrite raises, every row stays."""
    p = str(tmp_path / "t")
    for lo in (0, 5, 10):
        _mk(spark, p, lo, lo + 5)  # v1..v3, three small files
    real = ice._put_if_absent
    state = {"raced": False}

    def racing_put(dest, text):
        if not state["raced"]:
            state["raced"] = True
            _mk(spark, p, 50, 53)  # the append claims v4 first
        return real(dest, text)

    monkeypatch.setattr(ice, "_put_if_absent", racing_put)
    with pytest.raises(ValueError, match="concurrent commit landed"):
        ice.rewrite_data_files(spark, p)
    monkeypatch.setattr(ice, "_put_if_absent", real)
    assert ice._current_metadata(p)[0] == 4
    assert _ids(spark, p) == list(range(15)) + [50, 51, 52]
    # the aborted rewrite's manifest and manifest list are gone too,
    # and so are the compacted data files it staged
    assert _avros_on_disk(p) == _referenced_avros(p)
    assert _files_on_disk(p) == _referenced_files(p)


def test_stale_hint_never_hides_newest_version(spark, tmp_path):
    """A crash between the link and the hint flip leaves the hint one
    behind. Readers and the next writer still land on the newest
    committed version, and the next commit repairs the hint."""
    p = str(tmp_path / "t")
    _mk(spark, p, 0, 5)  # v1
    _mk(spark, p, 5, 8)  # v2
    hint = os.path.join(ice._meta_dir(p), "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")
    assert ice._current_metadata(p)[0] == 2
    assert _ids(spark, p) == list(range(8))
    assert ice.set_iceberg_properties(p, {"x": "y"}) == 3
    assert open(hint).read() == "3"
    with open(os.path.join(ice._meta_dir(p), "v3.metadata.json")) as fh:
        assert json.load(fh)["properties"]["x"] == "y"


def test_conflicting_mor_updates_one_aborts(spark, tmp_path, monkeypatch):
    """Two merge-on-read UPDATEs planned on one head: their position
    deletes retire rows of the same live set, so exactly one commits
    and the other raises ``concurrent …``."""
    from census_asc5_data_pipeline_spark.sources.merge import update_where

    p = str(tmp_path / "t")
    _mk(spark, p, 0, 10)  # v1
    got = _race(
        monkeypatch,
        [
            (lambda d=d: update_where(
                spark, "iceberg", p, "id < 5", {"k": f"k + {d}"}
            ))
            for d in (10, 20)
        ],
    )
    wins = [i for i, r in enumerate(got) if r == 2]
    errs = [r for r in got if isinstance(r, ValueError)]
    assert len(wins) == 1 and len(errs) == 1, got
    assert "concurrent" in str(errs[0])
    bump = (10, 20)[wins[0]]
    rows = sorted(
        (r.id, r.k) for r in ice.read_iceberg(spark, p).collect()
    )
    assert rows == [(i, i % 3 + (bump if i < 5 else 0)) for i in range(10)]
    # the loser's staged position-delete and update-image files are gone
    assert _files_on_disk(p) == _referenced_files(p)

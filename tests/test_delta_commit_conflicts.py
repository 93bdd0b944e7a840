"""Concurrent Delta writers through the one commit path
(``delta_io._commit_delta``): every log version is claimed with a
put-if-absent link, so no commit is ever silently overwritten.

- metadata verbs rebuild on the replay at ``v - 1`` and retry, so a
  commit that lands between their replay and their claim is kept;
- appends re-plan on the newest version and retry;
- DML and OPTIMIZE commits planned against the live set abort with
  ``ValueError("concurrent commit changed …")`` and delete the data,
  cdc and deletion-vector files they staged — never a file a live
  ``add`` names;
- the claim primitive is called from exactly one place per format;
- the Delta log plane opens a commit JSON and writes the
  ``_last_checkpoint`` pointer in one place each;
- row-level DML plans its position scan and stages Iceberg files in
  one place per format; Delta DELETE, UPDATE and MERGE commit through
  one function.
"""

from __future__ import annotations

import ast
import json
import os
import threading
from pathlib import Path

import pytest

from census_asc5_data_pipeline_spark.sources import delta_io as d
from census_asc5_data_pipeline_spark.sources.deletion_vectors import (
    dv_relative_path,
)
from census_asc5_data_pipeline_spark.sources.merge import (
    merge_into,
    update_where,
)


def _df(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], "k long, v double"
    ).coalesce(1)


def _commits(path: str) -> dict[int, list[dict]]:
    out = {}
    for v in d.delta_versions(path):
        with open(d._commit_file(path, v)) as fh:
            out[v] = [json.loads(ln) for ln in fh if ln.strip()]
    return out


def _race_after_first_replay(monkeypatch, racer) -> None:
    """The next ``_replay`` call returns its state, then ``racer``
    commits before the caller can use it."""
    real = d._replay
    state = {"armed": True}

    def replay(spark, path, version):
        out = real(spark, path, version)
        if state["armed"]:
            state["armed"] = False
            racer()
        return out

    monkeypatch.setattr(d, "_replay", replay)


def test_property_set_racing_replay_keeps_both_keys(
    spark, tmp_path, monkeypatch
):
    """The lost update: a SET TBLPROPERTIES lands between another
    SET TBLPROPERTIES's replay and its claim. The loser rebuilds on
    the winner's version — both keys survive, versions 1 and 2."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 5), p)  # v0
    _race_after_first_replay(
        monkeypatch, lambda: d.set_delta_properties(spark, p, {"b": "2"})
    )
    assert d.set_delta_properties(spark, p, {"a": "1"}) == 2
    assert d.delta_versions(p) == [0, 1, 2]
    conf = d._replay(spark, p, None)[1]["configuration"]
    assert {"a": "1", "b": "2"}.items() <= conf.items()


def test_domain_set_racing_replay_keeps_protocol(
    spark, tmp_path, monkeypatch
):
    """A domain commit planned before a protocol upgrade landed must
    not publish the old protocol over it."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 5), p)  # v0
    _race_after_first_replay(
        monkeypatch,
        lambda: d.set_delta_properties(
            spark, p, {"b": "2", "delta.checkpointPolicy": "v2"}
        ),
    )
    assert d.set_domain_metadata(spark, p, "app.x", "cfg") == 2
    assert d.delta_versions(p) == [0, 1, 2]
    protocol, meta, _a, _t = d._replay(spark, p, None)
    assert "v2Checkpoint" in protocol["readerFeatures"]
    assert {"v2Checkpoint", "domainMetadata"} <= set(
        protocol["writerFeatures"]
    )
    assert meta["configuration"]["b"] == "2"
    assert d.replay_domains(spark, p) == {"app.x": "cfg"}


def test_add_columns_racing_replay_keeps_property(
    spark, tmp_path, monkeypatch
):
    """ADD COLUMNS planned on a stale metaData must not drop the
    property another writer set in between."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 5), p)  # v0
    _race_after_first_replay(
        monkeypatch, lambda: d.set_delta_properties(spark, p, {"b": "2"})
    )
    assert d.add_delta_columns(spark, p, "note string") == 2
    assert d.delta_versions(p) == [0, 1, 2]
    meta = d._replay(spark, p, None)[1]
    assert meta["configuration"]["b"] == "2"
    assert [f["name"] for f in json.loads(meta["schemaString"])["fields"]] == [
        "k", "v", "note",
    ]


def test_concurrent_appends_all_land(spark, tmp_path, monkeypatch):
    """Four appends that all read the same next version: one claims
    it, the others re-plan and retry — four versions, every row."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 5), p)  # v0
    barrier = threading.Barrier(4, timeout=120)
    first = threading.local()
    real = d._next_version

    def next_version(path):
        if not getattr(first, "done", False):
            first.done = True
            barrier.wait()
        return real(path)

    monkeypatch.setattr(d, "_next_version", next_version)
    out: list = [None] * 4

    def run(i, lo):
        try:
            out[i] = d.write_delta(_df(spark, lo, lo + 5), p)
        except Exception as e:  # noqa: BLE001 — reported to the test
            out[i] = e

    threads = [
        threading.Thread(target=run, args=(i, lo))
        for i, lo in enumerate((10, 20, 30, 40))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive(), "writer thread hung"
    monkeypatch.setattr(d, "_next_version", real)
    assert sorted(o for o in out if isinstance(o, int)) == [1, 2, 3, 4], out
    assert sorted(r.k for r in d.read_delta(spark, p).collect()) == sorted(
        i for lo in (0, 10, 20, 30, 40) for i in range(lo, lo + 5)
    )


def _files_on_disk(path: str) -> set[str]:
    """Every data (parquet, incl. ``_change_data/``) and
    deletion-vector file under the table root."""
    out = set()
    for root, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if x != "_delta_log"]
        for n in names:
            if n.endswith((".parquet", ".bin")) and not n.startswith("."):
                out.add(os.path.relpath(os.path.join(root, n), path))
    return out


def _referenced(spark, path: str, live_only: bool = False) -> set[str]:
    """Files any commit's add / cdc names (with the DV files its adds
    carry); ``live_only`` restricts to the current live adds."""
    adds = (
        list(d._replay(spark, path, None)[2].values())
        if live_only
        else [
            a[k]
            for acts in _commits(path).values()
            for a in acts
            for k in ("add", "cdc")
            if k in a
        ]
    )
    out = set()
    for a in adds:
        out.add(a["path"])
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            out.add(dv_relative_path(dv["pathOrInlineDv"]))
    return out


@pytest.mark.parametrize(
    "verb",
    [
        "delete_cow", "delete_dv", "update_cow", "update_dv", "merge",
        "optimize",
    ],
)
def test_aborted_commit_deletes_what_it_staged(
    spark, tmp_path, monkeypatch, verb
):
    """A DML / OPTIMIZE commit aborted by a concurrent overwrite of
    the files it planned against deletes its staged data, cdc and DV
    files, and never a file a live add names (a DV-mode re-add names
    a live data file)."""
    p = str(tmp_path / "t")
    d.write_delta(
        _df(spark, 0, 10), p,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    d.write_delta(_df(spark, 10, 20), p)
    d.delete_delta_where(spark, p, "k = 11", mode="dv")  # a live DV
    real = d._put_if_absent_commit
    state = {"raced": False}

    def racing_put(path, v, lines):
        if not state["raced"] and any("remove" in a for a in lines):
            state["raced"] = True
            d.write_delta(_df(spark, 100, 103), p, mode="overwrite")
        return real(path, v, lines)

    monkeypatch.setattr(d, "_put_if_absent_commit", racing_put)
    mode = verb.split("_")[-1]
    with pytest.raises(ValueError, match="concurrent commit changed"):
        if verb.startswith("delete"):
            d.delete_delta_where(spark, p, "k IN (3, 12)", mode=mode)
        elif verb.startswith("update"):
            update_where(
                spark, "delta", p, "k IN (3, 12)", {"v": "v + 1"},
                mode=mode,
            )
        elif verb == "merge":
            merge_into(
                spark, "delta", p,
                spark.createDataFrame(
                    [(3, 30.0), (50, 5.0)], "k long, v double"
                ),
                "t.k = s.k",
                matched=[("update", None, {"v": "s.v"})],
                not_matched={"k": "s.k", "v": "s.v"},
            )
        else:
            d.optimize_delta(spark, p)
    monkeypatch.setattr(d, "_put_if_absent_commit", real)
    assert state["raced"]
    assert _files_on_disk(p) == _referenced(spark, p)
    assert _referenced(spark, p, live_only=True) <= _files_on_disk(p)
    assert sorted(r.k for r in d.read_delta(spark, p).collect()) == [
        100, 101, 102,
    ]


def test_aborted_dv_delete_keeps_live_files(spark, tmp_path, monkeypatch):
    """A DV-mode DELETE aborted by a concurrent DV-mode DELETE on the
    same file: the loser's staged DV file goes, while every file a
    live add names — the data file both DELETEs re-add and the
    winner's DV file — stays, and the table still reads."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 10), p)
    real = d._put_if_absent_commit
    state = {"raced": False}

    def racing_put(path, v, lines):
        if not state["raced"] and any("remove" in a for a in lines):
            state["raced"] = True
            d.delete_delta_where(spark, p, "k = 1", mode="dv")
        return real(path, v, lines)

    monkeypatch.setattr(d, "_put_if_absent_commit", racing_put)
    with pytest.raises(ValueError, match="concurrent commit changed"):
        d.delete_delta_where(spark, p, "k = 2", mode="dv")
    monkeypatch.setattr(d, "_put_if_absent_commit", real)
    assert _files_on_disk(p) == _referenced(spark, p)
    assert _referenced(spark, p, live_only=True) <= _files_on_disk(p)
    assert sorted(r.k for r in d.read_delta(spark, p).collect()) == [
        0, 2, 3, 4, 5, 6, 7, 8, 9,
    ]


def test_refused_dv_merge_leaves_no_staged_file(spark, tmp_path):
    """A DV-mode MERGE refused by a CHECK constraint writes its
    deletion-vector file before the constraint check; the abort
    deletes it, so no new file is left under the table."""
    p = str(tmp_path / "t")
    d.write_delta(_df(spark, 0, 10), p)
    d.set_delta_properties(spark, p, {"delta.constraints.pos": "v >= 0"})

    def files():
        return {
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(p)
            for f in fs
        }

    before = files()
    with pytest.raises(ValueError, match="pos"):
        merge_into(
            spark, "delta", p,
            spark.createDataFrame([(3, -1.0)], "k long, v double"),
            "t.k = s.k",
            matched=[("update", None, {"v": "s.v"})],
            mode="dv",
        )
    assert files() == before
    assert sorted(r.k for r in d.read_delta(spark, p).collect()) == list(
        range(10)
    )


def _call_sites(name: str) -> list[tuple[str, str]]:
    """(module, innermost enclosing function) of every call to
    ``name`` in the package source, one entry per call."""
    pkg = Path(d.__file__).resolve().parents[1]
    out: list[tuple[str, str]] = []

    class Calls(ast.NodeVisitor):
        def __init__(self, module: str):
            self.module, self.stack = module, ["<module>"]

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            if name in (
                getattr(node.func, "id", None),
                getattr(node.func, "attr", None),
            ):
                out.append((self.module, self.stack[-1]))
            self.generic_visit(node)

    for f in sorted(pkg.rglob("*.py")):
        Calls(f.stem).visit(ast.parse(f.read_text()))
    return sorted(out)


def test_one_claim_site_per_format():
    """Each format claims versions in exactly one function, so
    neither regrows a hand-rolled commit loop: Delta's
    ``_put_if_absent_commit`` only in ``_commit_delta``, and the
    shared link primitive only there (via ``_put_if_absent_commit``)
    and in Iceberg's ``_commit_metadata``."""
    assert _call_sites("_put_if_absent_commit") == [
        ("delta_io", "_commit_delta")
    ]
    assert _call_sites("_put_if_absent") == [
        ("delta_io", "_put_if_absent_commit"),
        ("iceberg_io", "_commit_metadata"),
    ]


_LOG_PLANE_MODULES = ("delta_io", "delta_stream_source", "merge")


def _functions(module: str):
    """(name, node) of every function in a package module, nested
    ones included."""
    src = (Path(d.__file__).parent / f"{module}.py").read_text()
    return [
        (n.name, n)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested
    functions (they are checked on their own)."""
    todo = list(fn.body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo.extend(ast.iter_child_nodes(n))


def _callee(node) -> str | None:
    if isinstance(node, ast.Call):
        return getattr(node.func, "id", None) or getattr(
            node.func, "attr", None
        )
    return None


def test_one_commit_reader_and_pointer_writer():
    """The Delta log plane reads a commit JSON in one place and flips
    ``_last_checkpoint`` in one place. A function opens a commit file
    when it passes ``_commit_file(...)`` — directly or through a
    local name bound to it — to ``open`` or ``_json_lines``; only
    ``_commit_actions`` does, plus ``_ict_of_commit`` (bounded head
    scan) and ``_commit_timestamp_ms`` (skips undecodable lines). A
    function writes the pointer when it names ``"_last_checkpoint"``
    and writes a file (``open(..., "w")``, ``os.replace``,
    ``json.dump``); only ``_publish_last_checkpoint`` does."""
    openers, writers = [], []
    for module in _LOG_PLANE_MODULES:
        for name, fn in _functions(module):
            nodes = list(_own_nodes(fn))
            bound = {
                t.id
                for n in nodes
                if isinstance(n, ast.Assign)
                and _callee(n.value) == "_commit_file"
                for t in n.targets
                if isinstance(t, ast.Name)
            }

            def _names_commit(arg) -> bool:
                return any(
                    _callee(x) == "_commit_file"
                    or (isinstance(x, ast.Name) and x.id in bound)
                    for x in ast.walk(arg)
                )

            if any(
                _callee(n) in ("open", "_json_lines")
                and n.args
                and _names_commit(n.args[0])
                for n in nodes
            ):
                openers.append((module, name))
            names_pointer = any(
                isinstance(n, ast.Constant) and n.value == "_last_checkpoint"
                for n in nodes
            )
            writes = any(
                _callee(n) in ("replace", "dump")
                or (
                    _callee(n) == "open"
                    and any(
                        isinstance(a, ast.Constant)
                        and str(a.value)[:1] in ("w", "a")
                        for a in n.args[1:]
                    )
                )
                for n in nodes
            )
            if names_pointer and writes:
                writers.append((module, name))
    assert sorted(openers) == [
        ("delta_io", "_commit_actions"),
        ("delta_io", "_commit_timestamp_ms"),
        ("delta_io", "_ict_of_commit"),
    ]
    assert writers == [("delta_io", "_publish_last_checkpoint")]


def test_one_row_level_path_per_format():
    """Row-level DML plans and stages through one path per format.
    The position scan (``_scan_adds(..., keep_pos=True)``) is called
    only by ``delta_io._row_level_delta`` (DELETE, UPDATE and MERGE),
    besides the ``_row_tracking_scan`` read; the DV retire and the
    change-data stager have that one caller; ``merge`` calls none of
    the Delta row-level primitives; and an Iceberg file reaches
    ``data/`` (``shutil.move``) only through
    ``iceberg_io._stage_files``."""
    primitives = {
        "_scan_adds", "_dv_retire", "_stage_adds_mapped",
        "_stage_cdc_mapped", "_stamp_op_metrics", "_commit_delta",
    }
    modules = sorted(
        p.stem for p in Path(d.__file__).parent.glob("*.py")
        if p.stem != "__init__"
    )
    keep_pos, movers, merge_calls = [], [], []
    callers: dict[str, set] = {"_dv_retire": set(), "_stage_cdc_mapped": set()}
    for module in modules:
        for name, fn in _functions(module):
            for n in _own_nodes(fn):
                callee = _callee(n)
                if callee == "_scan_adds" and any(
                    kw.arg == "keep_pos"
                    and isinstance(kw.value, ast.Constant)
                    and kw.value.value is True
                    for kw in n.keywords
                ):
                    keep_pos.append((module, name))
                if callee in callers:
                    callers[callee].add((module, name))
                if module == "merge" and callee in primitives:
                    merge_calls.append((name, callee))
                if module in ("iceberg_io", "merge") and callee == "move":
                    movers.append((module, name))
    assert sorted(keep_pos) == [
        ("delta_io", "_row_level_delta"),
        ("delta_io", "_row_tracking_scan"),
    ]
    assert callers == {
        "_dv_retire": {("delta_io", "_row_level_delta")},
        "_stage_cdc_mapped": {("delta_io", "_row_level_delta")},
    }
    assert merge_calls == []
    assert movers == [("iceberg_io", "_stage_files")]

"""Per-layer tracing for the traced run: spans, a py4j call counter and
the Spark event log, joined by job group.

Nothing here edits the engine.  ``Tracer.install`` replaces public
functions as module attributes with wrappers that open a span; the
engine and the workloads look those attributes up at call time, so
their calls land in the wrappers.  Each span sets the Spark job group
``span-<id>``, which attributes every job to its innermost span.
Counters that need extra Spark or file-system work (files scanned,
live files, pair counts) run after the op's span has closed, with the
py4j counter paused and under the job group ``probe``, so they never
count against the op.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import resource
import time
import urllib.parse
from collections import Counter, defaultdict

from py4j.java_gateway import GatewayClient

from workloads import du
from census_asc5_data_pipeline_spark import catalog, session
from census_asc5_data_pipeline_spark.operators import dedup, graph
from census_asc5_data_pipeline_spark.plans import census, curation, star_schema
from census_asc5_data_pipeline_spark.sources import (
    csv_source,
    delta_io,
    iceberg_io,
    merge,
    sinks,
)

# (module, public functions) wrapped in spans named "<layer>.<function>"
LAYERS = {
    "session": (session, ["get_spark"]),
    "catalog": (catalog, ["load_tables", "read_table"]),
    "plans.star_schema": (star_schema, ["dim_view", "measure_view", "fact_join"]),
    "plans.census": (census, ["load_census_csvs", "census_views", "serving_query"]),
    "plans.curation": (curation, ["curate", "export_corpus"]),
    "csv_source": (csv_source, ["read_csv"]),
    "sinks": (sinks, ["write_csv"]),
    "delta_io": (delta_io, ["read_delta", "write_delta"]),
    "iceberg_io": (iceberg_io, ["read_iceberg", "read_iceberg_meta", "write_iceberg"]),
    "merge": (merge, ["merge_into"]),
    "operators.dedup": (dedup, ["ngram_jaccard_pairs"]),
    "operators.graph": (graph, ["dedup_clusters"]),
}
# deferred counter -> (op kind it runs in, only when called by the op
# itself rather than from inside another wrapped function)
POSTS = {
    "sinks.write_csv": ("write", True),
    "delta_io.read_delta": ("read", True),
    "iceberg_io.read_iceberg": ("read", True),
    "merge.merge_into": ("write", True),
    "operators.dedup.ngram_jaccard_pairs": ("read", False),
}
PLAN_LAYERS = ("plans.star_schema.", "plans.census.", "plans.curation.curate")

# name -> unit; every traced run prints all of them (0 where the
# workload bypasses the layer)
PER_LAYER = {
    "session.start_ms": "ms",
    "session.peak_rss_mb": "MB",
    "catalog.load_ms": "ms",
    "plans.build_ms": "ms",
    "driver.py4j_calls_per_read": "count",
    "driver.py4j_calls_per_write": "count",
    "driver.gap_ms_per_read": "ms",
    "driver.gap_ms_per_write": "ms",
    "spark.jobs_per_read": "count",
    "spark.jobs_per_write": "count",
    "spark.job_ms_per_read": "ms",
    "spark.job_ms_per_write": "ms",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.spill_bytes_per_op": "bytes",
    "spark.shuffle_bytes_per_read": "bytes",
    "csv_source.read_ms": "ms",
    "csv_source.bytes_parsed_per_read": "bytes",
    "sinks.write_ms": "ms",
    "sinks.bytes_written_per_write": "bytes",
    "delta_io.read_ms": "ms",
    "delta_io.log_files_replayed_per_read": "count",
    "delta_io.files_scanned_per_read": "count",
    "delta_io.skip_ratio": "ratio",
    "delta_io.checkpoints_written": "count",
    "delta_io.live_files": "count",
    "delta_io.bytes_written_per_source_byte": "ratio",
    "iceberg_io.read_ms": "ms",
    "iceberg_io.manifests_per_read": "count",
    "iceberg_io.delete_files_per_read": "count",
    "iceberg_io.files_scanned_per_read": "count",
    "iceberg_io.skip_ratio": "ratio",
    "iceberg_io.metadata_bytes": "bytes",
    "iceberg_io.bytes_written_per_source_byte": "ratio",
    "merge.merge_ms": "ms",
    "merge.jobs_per_merge": "count",
    "merge.rows_written_per_row_changed": "ratio",
    "operators.dedup.pairs_per_doc": "ratio",
    "operators.graph.ms_per_curate": "ms",
    "operators.graph.jobs_per_curate": "count",
    "curation.kept_ratio": "ratio",
    "trace.ops_per_s": "ops/s",
    "trace.overhead_pct": "%",
}

# counters that must repeat exactly for a seed (the repeatability test)
DETERMINISTIC = (
    "driver.py4j_calls_per_read",
    "driver.py4j_calls_per_write",
    "spark.jobs_per_read",
    "spark.jobs_per_write",
    "delta_io.log_files_replayed_per_read",
    "delta_io.files_scanned_per_read",
    "delta_io.live_files",
    "delta_io.checkpoints_written",
    "delta_io.bytes_written_per_source_byte",
    "iceberg_io.manifests_per_read",
    "iceberg_io.delete_files_per_read",
    "iceberg_io.files_scanned_per_read",
    "merge.jobs_per_merge",
    "merge.rows_written_per_row_changed",
    "operators.dedup.pairs_per_doc",
    "curation.kept_ratio",
)


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: tuple[int, str] | None = None
        self.py4j: Counter = Counter()
        self.paused = 0
        self.sc = None
        self.originals: dict[str, object] = {}
        self.deferred: list = []
        self.counters: dict[str, list[float]] = defaultdict(list)

    # ----------------------------------------------------------- install
    def install(self) -> None:
        orig_send = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *a, **k):
            # "m\nd\n" releases a JavaObject the Python GC collected; when
            # that happens is up to the GC, so it is not counted
            if tracer.paused == 0 and tracer.op is not None and not command.startswith("m\nd\n"):
                tracer.py4j[tracer.op] += 1
            return orig_send(client, command, *a, **k)

        GatewayClient.send_command = send_command
        for layer, (mod, names) in LAYERS.items():
            for fn_name in names:
                fn = getattr(mod, fn_name)
                self.originals[f"{layer}.{fn_name}"] = fn
                setattr(mod, fn_name, self._wrap(f"{layer}.{fn_name}", fn))

    def _wrap(self, name: str, fn):
        post = getattr(self, "_post_" + name.replace(".", "_"), None)
        kind, top_only = POSTS.get(name, (None, False))

        @functools.wraps(fn)
        def wrapper(*a, **k):
            depth = len(self.stack)
            with self.span(name):
                out = fn(*a, **k)
            if (
                post is not None
                and self.op is not None
                and self.op[1] == kind
                and (depth == 1 or not top_only)
            ):
                self.deferred.append(functools.partial(post, a, k, out))
            return out

        return wrapper

    def original(self, name: str):
        return self.originals[name]

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_group(f"span-{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._set_group(f"span-{self.stack[-1]}" if self.stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        self.paused += 1
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self.paused -= 1

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spark = spark

    @contextlib.contextmanager
    def op_span(self, index: int, kind: str):
        self.op = (index, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self.op = None
            self.flush_probes()

    def flush_probes(self) -> None:
        """Run the deferred counters, outside every op and span."""
        pending, self.deferred = self.deferred, []
        self.paused += 1
        self.sc.setLocalProperty("spark.jobGroup.id", "probe")
        try:
            for fn in pending:
                fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.paused -= 1

    def note(self, name: str, value: float) -> None:
        self.counters[name].append(float(value))

    # ------------------------------------------------- deferred counters
    def _post_sinks_write_csv(self, a, k, out) -> None:
        self.note("sinks.bytes", du(a[1] if len(a) > 1 else k["path"]))

    def _post_delta_io_read_delta(self, a, k, out) -> None:
        path = a[1]
        log = os.path.join(path, "_delta_log")
        names = os.listdir(log)
        ckpt = -1
        last = os.path.join(log, "_last_checkpoint")
        if os.path.exists(last):
            with open(last) as fh:
                ckpt = int(json.load(fh)["version"])
        commits = [n for n in names if n.endswith(".json") and n[:20].isdigit()]
        replayed = sum(1 for n in commits if int(n[:20]) > ckpt)
        replayed += sum(1 for n in names if n.startswith(f"{ckpt:020d}.checkpoint"))
        scanned = len(out.inputFiles())
        live = len(self.original("delta_io.read_delta")(self.spark, path).inputFiles())
        self.note("delta_io.replayed", replayed)
        self.note("delta_io.scanned", scanned)
        self.note("delta_io.skip", 1 - scanned / live if live else 0.0)

    def _post_iceberg_io_read_iceberg(self, a, k, out) -> None:
        path = a[1]
        meta = self.original("iceberg_io.read_iceberg_meta")
        manifests = meta(self.spark, path, "manifests").count()
        files = meta(self.spark, path, "files").collect()
        data = {_strip(r.file_path) for r in files if r.content == 0}
        deletes = len(files) - len(data)
        scanned = sum(1 for f in out.inputFiles() if _strip(f) in data)
        self.note("iceberg_io.manifests", manifests)
        self.note("iceberg_io.deletes", deletes)
        self.note("iceberg_io.scanned", scanned)
        self.note("iceberg_io.skip", 1 - scanned / len(data) if data else 0.0)

    def _post_merge_merge_into(self, a, k, out) -> None:
        fmt, path, source = a[1], a[2], a[3]
        src_bytes = sum(os.path.getsize(_strip(f)) for f in source.inputFiles())
        if fmt == "delta":
            m = delta_io.commit_operation_metrics(path, out)
            changed = sum(
                int(m.get(f"numTargetRows{x}", 0)) for x in ("Updated", "Deleted", "Inserted")
            )
            written = int(m.get("numOutputRows", 0))
            added = 0
            with open(os.path.join(path, "_delta_log", f"{out:020d}.json")) as fh:
                for line in fh:
                    add = json.loads(line).get("add")
                    if add:
                        added += int(add["size"])
        else:
            snaps = self.original("iceberg_io.read_iceberg_meta")(
                self.spark, path, "snapshots"
            ).collect()
            summary = next(s for s in snaps if s.snapshot_id == out).summary
            written = int(summary.get("added-records", 0)) + int(
                summary.get("added-position-deletes", 0)
            )
            changed = source.count()
            added = int(summary.get("added-files-size", 0))
        self.note(f"{fmt}.bytes_ratio", added / src_bytes)
        self.note("merge.rows_ratio", written / changed if changed else 0.0)

    def _post_operators_dedup_ngram_jaccard_pairs(self, a, k, out) -> None:
        docs = a[0].count()
        self.note("dedup.pairs_per_doc", out.count() / docs if docs else 0.0)

    # ------------------------------------------------------------ report
    def jobs(self, event_dir: str) -> list[dict]:
        """Jobs from the event log with their task metrics summed."""
        files = [
            p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
            if os.path.isfile(p)
        ]
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "tasks": 0,
                            "cpu_ns": 0,
                            "spill": 0,
                            "shuffle": 0,
                            "input": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev["Stage ID"]))
                        tm = ev.get("Task Metrics") or {}
                        if job is None:
                            continue
                        job["tasks"] += 1
                        job["cpu_ns"] += tm.get("Executor CPU Time", 0)
                        job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0
                        )
                        job["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        job["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        return [j for j in jobs.values() if j["end"] is not None]

    def report(self, event_dir: str, extra: dict) -> tuple[dict, dict]:
        """Per-layer metrics, plus the span dump written out at the end."""
        spans = self.spans
        jobs = self.jobs(event_dir)
        for j in jobs:
            g = j["group"] or ""
            j["span"] = int(g[5:]) if g.startswith("span-") else None

        def chain(sid):
            while sid is not None:
                yield spans[sid]
                sid = spans[sid]["parent"]

        op_spans = [s for s in spans if s["name"].startswith("op.") and s["op"]]
        n = {"read": 0, "write": 0}
        per = defaultdict(float)
        op_of_span = {}
        for s in spans:
            for anc in chain(s["id"]):
                if anc["name"].startswith("op."):
                    op_of_span[s["id"]] = anc["id"]
                    break
        for s in op_spans:
            kind = s["op"][1]
            n[kind] += 1
            mine = [j for j in jobs if j["span"] is not None and op_of_span.get(j["span"]) == s["id"]]
            wall = (s["end"] - s["start"]) * 1000
            covered = _union_ms([(j["start"], j["end"]) for j in mine], s["start"], s["end"]) * 1000
            per[f"jobs_{kind}"] += len(mine)
            per[f"job_ms_{kind}"] += sum((j["end"] - j["start"]) * 1000 for j in mine)
            per[f"gap_{kind}"] += wall - covered
            per[f"py4j_{kind}"] += self.py4j[s["op"]]
            per["tasks"] += sum(j["tasks"] for j in mine)
            per["cpu_ms"] += sum(j["cpu_ns"] for j in mine) / 1e6
            per["spill"] += sum(j["spill"] for j in mine)
            if kind == "read":
                per["shuffle_read"] += sum(j["shuffle"] for j in mine)
                if any(
                    spans[x]["name"] == "csv_source.read_csv"
                    for x, o in op_of_span.items()
                    if o == s["id"]
                ):
                    per["csv_input"] += sum(j["input"] for j in mine)

        def in_ops(prefix):
            return [s for s in spans if s["name"].startswith(prefix) and s["op"]]

        def span_ms(prefix):
            return sum((s["end"] - s["start"]) * 1000 for s in in_ops(prefix))

        def jobs_under(prefix):
            ids = {s["id"] for s in in_ops(prefix)}
            return [
                j for j in jobs
                if j["span"] is not None and any(a["id"] in ids for a in chain(j["span"]))
            ]

        # plan assembly: top-level plan-layer spans inside read ops,
        # minus the Spark jobs that ran within them
        plan_ms = 0.0
        for s in spans:
            if not (s["op"] and s["op"][1] == "read" and s["name"].startswith(PLAN_LAYERS)):
                continue
            if any(a["name"].startswith(PLAN_LAYERS) for a in list(chain(s["id"]))[1:]):
                continue
            inner = [(j["start"], j["end"]) for j in jobs if j["span"] is not None
                     and any(a["id"] == s["id"] for a in chain(j["span"]))]
            plan_ms += (s["end"] - s["start"]) * 1000 - 1000 * _union_ms(inner, s["start"], s["end"])

        def mean(name):
            v = self.counters.get(name) or []
            return sum(v) / len(v) if v else 0.0

        def per_op(key, kind):
            return per[key] / n[kind] if n[kind] else 0.0

        n_ops = n["read"] + n["write"]
        merges = in_ops("merge.merge_into")
        curates = in_ops("plans.curation.curate")
        setup = {s["name"]: (s["end"] - s["start"]) * 1000 for s in spans if not s["op"]}
        m = {
            "session.start_ms": setup.get("session.get_spark", 0.0),
            "session.peak_rss_mb": extra["peak_rss_mb"],
            "catalog.load_ms": sum(
                (s["end"] - s["start"]) * 1000
                for s in spans
                if s["name"] == "catalog.load_tables" and not s["op"]
            ),
            "plans.build_ms": plan_ms / n["read"] if n["read"] else 0.0,
            "driver.py4j_calls_per_read": per_op("py4j_read", "read"),
            "driver.py4j_calls_per_write": per_op("py4j_write", "write"),
            "driver.gap_ms_per_read": per_op("gap_read", "read"),
            "driver.gap_ms_per_write": per_op("gap_write", "write"),
            "spark.jobs_per_read": per_op("jobs_read", "read"),
            "spark.jobs_per_write": per_op("jobs_write", "write"),
            "spark.job_ms_per_read": per_op("job_ms_read", "read"),
            "spark.job_ms_per_write": per_op("job_ms_write", "write"),
            "spark.tasks_per_op": per["tasks"] / n_ops,
            "spark.executor_cpu_ms_per_op": per["cpu_ms"] / n_ops,
            "spark.spill_bytes_per_op": per["spill"] / n_ops,
            "spark.shuffle_bytes_per_read": per_op("shuffle_read", "read"),
            "csv_source.read_ms": span_ms("csv_source.read_csv") / n["read"] if n["read"] else 0.0,
            "csv_source.bytes_parsed_per_read": per_op("csv_input", "read"),
            "sinks.write_ms": span_ms("sinks.write_csv") / n["write"] if n["write"] else 0.0,
            "sinks.bytes_written_per_write": sum(self.counters.get("sinks.bytes", [])) / n["write"]
            if n["write"] else 0.0,
            "delta_io.read_ms": span_ms("delta_io.read_delta") / n["read"] if n["read"] else 0.0,
            "delta_io.log_files_replayed_per_read": mean("delta_io.replayed"),
            "delta_io.files_scanned_per_read": mean("delta_io.scanned"),
            "delta_io.skip_ratio": mean("delta_io.skip"),
            "delta_io.checkpoints_written": extra.get("delta_checkpoints", 0),
            "delta_io.live_files": extra.get("delta_live_files", 0),
            "delta_io.bytes_written_per_source_byte": mean("delta.bytes_ratio"),
            "iceberg_io.read_ms": span_ms("iceberg_io.read_iceberg") / n["read"] if n["read"] else 0.0,
            "iceberg_io.manifests_per_read": mean("iceberg_io.manifests"),
            "iceberg_io.delete_files_per_read": mean("iceberg_io.deletes"),
            "iceberg_io.files_scanned_per_read": mean("iceberg_io.scanned"),
            "iceberg_io.skip_ratio": mean("iceberg_io.skip"),
            "iceberg_io.metadata_bytes": extra.get("iceberg_metadata_bytes", 0),
            "iceberg_io.bytes_written_per_source_byte": mean("iceberg.bytes_ratio"),
            "merge.merge_ms": span_ms("merge.merge_into") / len(merges) if merges else 0.0,
            "merge.jobs_per_merge": len(jobs_under("merge.merge_into")) / len(merges) if merges else 0.0,
            "merge.rows_written_per_row_changed": mean("merge.rows_ratio"),
            "operators.dedup.pairs_per_doc": mean("dedup.pairs_per_doc"),
            "operators.graph.ms_per_curate": span_ms("operators.graph.dedup_clusters") / len(curates)
            if curates else 0.0,
            "operators.graph.jobs_per_curate": len(jobs_under("operators.graph.dedup_clusters"))
            / len(curates) if curates else 0.0,
            "curation.kept_ratio": mean("curation.kept_ratio"),
        }
        dump = {
            "spans": [
                dict(s, self_ms=self.self_ms(s)) for s in spans
            ],
            "py4j_calls": {f"{i}:{k}": c for (i, k), c in self.py4j.items()},
            "counters": dict(self.counters),
            "jobs": jobs,
        }
        return m, dump

    def self_ms(self, s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
        return (s["end"] - s["start"] - _union_ms(kids, s["start"], s["end"])) * 1000


def _strip(p: str) -> str:
    return urllib.parse.urlparse(p).path if p.startswith("file:") else p


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python driver."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0

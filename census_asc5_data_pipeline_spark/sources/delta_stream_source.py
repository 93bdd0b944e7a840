"""Delta table as a REAL Structured Streaming source — the Spark 4
Python Data Source API (``pyspark.sql.datasource``) over the
``delta_io`` transaction log: ``spark.readStream.format("delta_tail")
.option("path", ...)`` tails a Delta table commit-by-commit, closing
the loop started by ``stream_to_delta`` (stream → Delta sink) and
``delta_tail_fold`` (driver-side polling): stream → table → STREAM,
all on one log, with Spark's own offset checkpointing providing the
exactly-once replay contract.

How it maps to the streaming engine:

- OFFSET = the last processed commit version (``{"version": N}``) —
  the same cursor ``delta_tail_fold`` keeps, but stored in Spark's
  offset log so restarts resume exactly.
- ``partitions(start, end)`` replays the commit JSONs in
  ``(start, end]`` DRIVER-side (metadata scale) and emits ONE input
  partition per added data file — executor parallelism = files per
  batch, no driver row path. ``dataChange=false`` adds (OPTIMIZE
  rearrangements) are skipped, like the change feed.
- ``read(partition)`` opens the parquet with pyarrow IN THE EXECUTOR
  and yields Arrow record batches directly (the zero-copy lane of the
  Python source API); partition columns (absent from Delta data
  files, per spec) and the ``_commit_version`` tag are appended as
  constant Arrow arrays per file.
- Replays are deterministic: the same offset range always lists the
  same files (the log is immutable), so at-least-once engine retries
  compose into exactly-once results with any idempotent sink.

Row-level deletes surface the way ``read_delta_changes`` documents:
a ``delete_delta_where`` commit re-adds the touched files, so the
stream re-emits their SURVIVING rows at the delete version (an add
carrying a deletion vector has its DV decoded in the executor and the
deleted row indexes masked out batch-by-batch); a consumer folding
"latest ``_commit_version`` wins per key" sees the post-delete state.
A vacuumed commit range raises rather than guessing (the
``read_delta_changes`` contract).
"""

from __future__ import annotations

import json
import os
import urllib.parse
import warnings

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _id_type_sig(fields: list[dict]) -> list[tuple[int, str]] | None:
    """The rename-stable signature of a mapped schema: sorted
    (columnMapping.id, type) pairs — identical across RENAME COLUMN
    (ids and types survive, only names change). None when any field
    lacks an id (unmapped/foreign-partial schemas can't bind by id)."""
    sig = []
    for f in fields:
        cid = (f.get("metadata") or {}).get("delta.columnMapping.id")
        if cid is None:
            return None
        sig.append((int(cid), json.dumps(f["type"], sort_keys=True)))
    return sorted(sig)


def _check_schema(reader, v: int, meta: dict) -> None:
    """Refuse a commit ``v`` whose metaData changes the schema the
    stream ``reader`` was built with — except a PURE RENAME on a
    mapped table, which keeps every (columnMapping.id, type): the
    physical binding is untouched, so the stream continues under its
    construction-time names (r15)."""
    md_fields = json.loads(meta["schemaString"])["fields"]
    if [(f["name"], f["type"]) for f in md_fields] != [
        (f["name"], f["type"]) for f in reader.fields
    ] and (
        reader._id_sig is None or _id_type_sig(md_fields) != reader._id_sig
    ):
        raise ValueError(
            f"version {v} changes the table schema mid-stream (not a "
            "pure rename) — this source reads with the construction-"
            "time schema; restart the query past the schema change"
        )


def _log_meta(path: str):
    """(spark_schema_json_fields, partition_cols, physical_of) from the
    log — driver-side, no SparkSession needed (the data source API
    calls schema() off-session). ``physical_of`` is the
    logical→physical column map when delta.columnMapping.mode is
    name/id (round-11: the stream gate lifted — data files and
    partitionValues keys use PHYSICAL names; the reader remaps), else
    None."""
    from census_asc5_data_pipeline_spark.sources import delta_io

    versions = delta_io.delta_versions(path)
    ckpt = delta_io._read_last_checkpoint(path)
    meta: dict = {}
    # scan the JSON tail for the newest metaData; a checkpointed table
    # whose early JSON was vacuumed falls back to the checkpoint parquet
    for v in versions:
        for action in delta_io._commit_actions(path, v):
            if "metaData" in action:
                meta = action["metaData"]
    if not meta and ckpt is not None:
        # classic, multipart and V2 (sidecar) checkpoints all resolve
        # through _resolve_checkpoint; metaData is always INLINE in a
        # v2 manifest (spec), so sidecars never need opening here
        res = delta_io._resolve_checkpoint(path, ckpt)
        if res is not None:
            rows, _sidecars = delta_io._checkpoint_manifest(
                path, ckpt, res[1]
            )
            for row in rows:
                if row.get("metaData"):
                    meta = row["metaData"]
    if not meta:
        raise FileNotFoundError(f"no Delta metaData found at {path!r}")
    physical_of = delta_io._column_mapping(meta)
    schema = json.loads(meta["schemaString"])
    pcols = list(meta.get("partitionColumns") or [])
    return schema["fields"], pcols, physical_of


_SPARK_TO_PA = {
    "long": "int64",
    "integer": "int32",
    "short": "int16",
    "byte": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool",
    "binary": "binary",
    "date": "date32",
    "timestamp": "timestamp[us]",
    "timestamp_ntz": "timestamp[us]",
}


def _pv_to_arrow(t_str: str, raw, n: int):
    """One Hive-style partition VALUE (a string from the log's
    partitionValues, per the Delta spec's serialization rules) →
    an n-element Arrow array of the declared Spark type. Raises for
    types outside the serialization table (interval, struct, …) —
    loud beats a miscast batch."""
    import datetime
    import decimal

    import pyarrow as pa

    if t_str.startswith("decimal("):
        p, s = t_str[len("decimal(") : -1].split(",")
        val = None if raw is None else decimal.Decimal(raw)
        return pa.array([val] * n, pa.decimal128(int(p), int(s)))
    if t_str not in _SPARK_TO_PA:
        raise NotImplementedError(
            f"delta_tail: unsupported partition-column type {t_str!r}"
        )
    pa_t = pa.type_for_alias(_SPARK_TO_PA[t_str])
    if raw is None:
        val = None
    elif t_str in ("long", "integer", "short", "byte"):
        val = int(raw)
    elif t_str in ("double", "float"):
        val = float(raw)
    elif t_str == "boolean":
        val = raw == "true"
    elif t_str == "date":
        val = datetime.date.fromisoformat(raw)
    elif t_str in ("timestamp", "timestamp_ntz"):
        # spec serialization: "yyyy-MM-dd HH:mm:ss[.S…]", no zone
        val = datetime.datetime.fromisoformat(raw)
    else:
        val = raw
    return pa.array([val] * n, pa_t)



def _parse_ts_ms(raw: str) -> int:
    """startingtimestamp option value → epoch millis: an integer is
    taken as millis, anything else parses as an ISO date/datetime.

    A timezone-NAIVE timestamp resolves in the session timezone when
    an active SparkSession is reachable (delta-spark resolves
    startingTimestamp in ``spark.sql.session.timeZone``), else in the
    system local zone — Spark's session default — so the same option
    string picks the same starting version as the reference on
    non-UTC sessions (r11 ADVICE). Zone-aware strings and integer
    millis are timezone-independent and always preferred for
    reproducibility."""
    raw = str(raw).strip()
    try:
        return int(raw)
    except ValueError:
        import datetime

        dt = datetime.datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            tz = None  # system local — Spark's session-tz default
            try:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:
                    from zoneinfo import ZoneInfo

                    tz = ZoneInfo(
                        active.conf.get("spark.sql.session.timeZone")
                    )
            except Exception:
                tz = None
            dt = dt.replace(tzinfo=tz) if tz is not None else dt.astimezone()
        return int(dt.timestamp() * 1000)


def _starting_from_options(path: str, options) -> int:
    """Resolve startingversion/startingtimestamp to the stream's
    exclusive starting version: with a timestamp, commits stamped AT
    or AFTER it are emitted (delta-spark's startingTimestamp
    semantics) — i.e. starting = the newest version stamped strictly
    before it (-1 when the table begins after it)."""
    sv = options.get("startingversion")
    st = options.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "pass startingversion OR startingtimestamp, not both"
        )
    if st is None:
        return int(sv) if sv is not None else -1
    from census_asc5_data_pipeline_spark.sources import delta_io

    try:
        return delta_io.version_as_of_timestamp_delta(
            path, _parse_ts_ms(st) - 1
        )
    except ValueError:
        return -1  # table begins after the timestamp: emit everything


class _FilePart(InputPartition):
    def __init__(self, path, version, pv, pcols, fields, table=None,
                 dv=None, phys=None):
        self.path = path
        self.version = version
        self.pv = pv
        self.pcols = pcols
        self.fields = fields
        self.table = table
        self.dv = dv
        self.phys = phys  # logical->physical map (column mapping)


class _RateLimitMixin:
    """``.option('maxfilespertrigger', N)`` /
    ``.option('maxbytespertrigger', B)`` — admission control for the
    Python data source API (which has no native ReadLimit): cap each
    planned batch at the first commit where the cumulative changed-
    FILE count reaches N or the cumulative changed-file BYTES reach B
    (whichever limit is set trips first), so a restart after long
    downtime (or a backfill from version 0) catches up in bounded
    batches instead of one giant one. Commits are atomic and never
    split, so a single commit larger than the budget still lands
    whole.

    AvailableNow safety (r14): the FIRST ``latestOffset`` of a reader
    instance always reports the TRUE end — Trigger.AvailableNow's
    wrapper (the Python data source API has no
    SupportsTriggerAvailableNow) calls it exactly once per run, fresh
    or restarted, and drains only to that answer, so a capped first
    answer silently loses data. Admission control therefore engages
    from the second trigger; ``.option('strictratelimit','true')``
    restores cap-always for repeated-trigger pipelines (never combine
    strict with AvailableNow).

    The reader tracks its position itself: ``initialOffset`` /
    ``partitions`` / ``commit`` all advance ``_pos``; when it is still
    unknown (a fresh stream's first ``latestOffset``) the cap counts
    from ``starting`` via the ``_probe`` ratchet, which converges
    without exceeding the budget. Regression-proofing (r11 ADVICE —
    the empirical call order must not be load-bearing for
    exactly-once): the cap is MONOTONIC (never below any offset this
    instance has returned or learned), ``partitions`` ratchets from
    BOTH ends of the range, and a reversed range (end below start —
    what the engine would plan if a restart ever called
    ``latestOffset`` before revealing the checkpointed position and
    got a sub-checkpoint cap back) plans an EMPTY batch with a loud
    warning instead of either re-planning already-emitted versions as
    duplicates or killing the query (r12 ADVICE: the exclusive-start
    range is empty of new versions, so emitting nothing is exact);
    the ratchet has already learned the true position from ``start``
    by then, so the next trigger caps correctly — warned once, then
    self-healed."""

    def _rl_init(self, options):
        self.max_files = int(options.get("maxfilespertrigger", 0))
        self.max_bytes = int(options.get("maxbytespertrigger", 0))
        self.strict_rl = (
            str(options.get("strictratelimit", "false")).lower()
            == "true"
        )
        self._lo_calls = 0
        self._pos: int | None = None
        self._probe = self.starting
        self._fcounts: dict[int, tuple[int, int]] = {}

    def _rl_advance(self, v: int) -> None:
        if self._pos is None or v > self._pos:
            self._pos = v
        self._probe = max(self._probe, v)

    def _rl_range_check(self, lo: int, hi: int) -> int:
        """Called by ``partitions(start, end)`` with both range ends:
        learn the true position from BOTH (a replayed batch's start
        reveals the checkpoint floor even when its end is stale) and
        return the effective range end. A reversed range (end below
        start — what the engine would plan if a restart ever asked
        ``latestOffset`` before revealing the checkpointed position
        and got a sub-checkpoint cap back) plans an EMPTY batch: the
        exclusive-start range (lo, hi] is already empty of new
        versions, so emitting nothing is duplicate-free, and killing
        the query for a benign planner state would force a restart
        (r12 ADVICE). The ratchet has learned the true position from
        ``lo`` by then, so the next trigger caps correctly."""
        self._rl_advance(max(lo, hi))
        if hi < lo:
            warnings.warn(
                f"stream offset regression: batch range end {hi} is "
                f"below start {lo} — a rate-limit cap was computed "
                "before the checkpointed position was known; planning "
                "an empty batch (no rows duplicated), the position is "
                "now learned and the next trigger resumes correctly",
                stacklevel=3,
            )
            return lo
        return hi

    def _rl_cap(self, versions: list[int], last: int) -> int:
        self._lo_calls += 1
        if self.max_files <= 0 and self.max_bytes <= 0:
            return last
        if not self.strict_rl and self._lo_calls == 1:
            # capture-once safety (r14): Trigger.AvailableNow's
            # wrapper calls latestOffset exactly ONCE per query run
            # (fresh AND restart — empirically traced) and treats the
            # answer as the complete drain target, so a capped first
            # answer silently LOSES every later commit. The first
            # call per reader instance therefore reports the true
            # end; admission control engages from the second trigger.
            # Pipelines on repeated triggers that need the first
            # catch-up batch bounded too opt back in with
            # .option('strictratelimit','true') — documented as
            # incompatible with Trigger.AvailableNow.
            return last
        base = self._pos if self._pos is not None else self._probe
        end, files, nbytes = base, 0, 0
        for v in sorted(versions):
            if v <= base or v > last:
                continue
            if v not in self._fcounts:
                self._fcounts[v] = self._count_files(v)
            f, b = self._fcounts[v]
            files += f
            nbytes += b
            end = v
            if (self.max_files > 0 and files >= self.max_files) or (
                self.max_bytes > 0 and nbytes >= self.max_bytes
            ):
                break
        self._probe = max(self._probe, end)
        return end


def _dbg(event: str, *args) -> None:
    """Env-gated reader-call tracing (SPARK_GRAFT_STREAM_DEBUG_LOG=
    <file>): the reader lives in a separate Python worker process,
    so in-process monkeypatch tracing never sees its calls."""
    import os as _os

    fp = _os.environ.get("SPARK_GRAFT_STREAM_DEBUG_LOG")
    if not fp:
        return
    try:
        with open(fp, "a") as fh:
            fh.write(f"{event} {args}\n")
    except OSError:
        pass


class DeltaTailStreamReader(_RateLimitMixin, DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_tail requires .option('path', ...)")
        self.starting = _starting_from_options(self.path, options)
        self._rl_init(options)
        self.fields, self.pcols, self.physical_of = _log_meta(self.path)
        # fail at construction, not per-batch, for partition-column
        # types outside the spec's partition-value serialization table
        for f in self.fields:
            t = f["type"]
            if f["name"] in self.pcols and not (
                isinstance(t, str)
                and (t in _SPARK_TO_PA or t.startswith("decimal("))
            ):
                raise NotImplementedError(
                    f"delta_tail: unsupported partition-column type "
                    f"{t!r} for {f['name']!r}"
                )
        # see DeltaCdfStreamReader: rename-stable field-id signature
        self._id_sig = (
            _id_type_sig(self.fields) if self.physical_of else None
        )

    def initialOffset(self):
        _dbg("initialOffset", self.starting)
        self._rl_advance(self.starting)
        return {"version": self.starting}

    def _count_files(self, v):
        from census_asc5_data_pipeline_spark.sources import delta_io

        n = b = 0
        for action in delta_io._commit_actions(self.path, v):
            if "add" in action and action["add"].get("dataChange", True):
                n += 1
                b += int(action["add"].get("size", 0))
        return n, b

    def latestOffset(self):
        from census_asc5_data_pipeline_spark.sources import delta_io

        versions = delta_io.delta_versions(self.path)
        last = max(versions) if versions else self.starting
        capped = self._rl_cap(versions, last)
        _dbg("latestOffset", last, capped)
        return {"version": capped}

    def partitions(self, start, end):
        from census_asc5_data_pipeline_spark.sources import delta_io

        lo, hi = int(start["version"]), int(end["version"])
        _dbg("partitions", lo, hi)
        hi = self._rl_range_check(lo, hi)
        versions = set(delta_io.delta_versions(self.path))
        want = [v for v in range(lo + 1, hi + 1)]
        missing = [v for v in want if v not in versions]
        if missing:
            raise FileNotFoundError(
                f"commit JSON for version(s) {missing} vacuumed — the "
                "stream cannot attribute that range"
            )
        parts = []
        for v in want:
            for action in delta_io._commit_actions(self.path, v):
                if "metaData" in action:
                    _check_schema(self, v, action["metaData"])
                elif "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    a = action["add"]
                    parts.append(
                        _FilePart(
                            delta_io._data_file_path(
                                self.path, a["path"]
                            ),
                            v,
                            a.get("partitionValues") or {},
                            self.pcols,
                            self.fields,
                            table=self.path,
                            dv=a.get("deletionVector"),
                            phys=self.physical_of,
                        )
                    )
        # the engine requires >= 1 partition per batch; an empty range
        # (fence-only or metadata commits) yields one no-op partition
        if not parts:
            parts.append(_FilePart(None, hi, {}, self.pcols, self.fields))
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition.path is None:
            return
        pcols = partition.pcols
        fields = partition.fields
        types = {f["name"]: f["type"] for f in fields}
        deleted = None
        if partition.dv:
            import numpy as np

            from census_asc5_data_pipeline_spark.sources.deletion_vectors import (
                read_dv_positions,
            )

            deleted = np.asarray(
                read_dv_positions(partition.table, partition.dv),
                dtype="int64",
            )
        pf = pq.ParquetFile(partition.path)
        row_offset = 0
        for batch in pf.iter_batches():
            if deleted is not None:
                import numpy as np

                idx = np.arange(
                    row_offset, row_offset + batch.num_rows, dtype="int64"
                )
                row_offset += batch.num_rows
                keep = idx[~np.isin(idx, deleted)] - (
                    row_offset - batch.num_rows
                )
                if len(keep) < batch.num_rows:
                    batch = batch.take(pa.array(keep, pa.int64()))
                if batch.num_rows == 0:
                    continue
            n = batch.num_rows
            arrays = list(batch.columns)
            phys = partition.phys or {}
            logical = {v: k for k, v in phys.items()}
            # mapped tables store PHYSICAL column names in the parquet
            # (and key partitionValues physically) — remap to logical
            names = [
                logical.get(nm, nm) for nm in batch.schema.names
            ]
            for c in pcols:
                raw = partition.pv.get(phys.get(c, c))
                if raw == _HIVE_NULL:
                    raw = None
                arrays.append(
                    _pv_to_arrow(types.get(c, "string"), raw, n)
                )
                names.append(c)
            arrays.append(pa.array([partition.version] * n, pa.int64()))
            names.append("_commit_version")
            # emit in the declared schema order
            order = [f["name"] for f in fields] + ["_commit_version"]
            idx = {nm: i for i, nm in enumerate(names)}
            yield pa.RecordBatch.from_arrays(
                [arrays[idx[nm]] for nm in order], order
            )

    def commit(self, end):
        self._rl_advance(int(end["version"]))


class DeltaTailDataSource(DataSource):
    @classmethod
    def name(cls):
        return "delta_tail"

    def schema(self):
        fields, pcols, _phys = _log_meta(self.options.get("path"))
        from pyspark.sql import types as T

        st = T.StructType.fromJson(
            {"type": "struct", "fields": fields}
        )
        return T.StructType(
            st.fields + [T.StructField("_commit_version", T.LongType())]
        )

    def streamReader(self, schema):
        return DeltaTailStreamReader(self.options)


class _CdfPart(InputPartition):
    """One change-contributing file of one commit. ``kind``:
    'cdc' (a spec change-data file — carries its own ``_change_type``
    column), 'insert' (a dataChange add — live rows, DV masked), or
    'delete' (a dataChange remove — the removed file's rows with the
    REMOVE's recorded DV applied, i.e. the rows live at removal)."""

    def __init__(self, path, version, pv, pcols, fields, kind,
                 table=None, dv=None, phys=None):
        self.path = path
        self.version = version
        self.pv = pv
        self.pcols = pcols
        self.fields = fields
        self.kind = kind
        self.table = table
        self.dv = dv
        self.phys = phys


class DeltaCdfStreamReader(_RateLimitMixin, DataSourceStreamReader):
    """``spark.readStream.format("delta_cdf")`` — the STREAMING Change
    Data Feed, the format-symmetry twin of the round-10 ``iceberg_tail``
    retractions: every batch row carries ``_change_type`` (``insert`` /
    ``delete`` / ``update_preimage`` / ``update_postimage``) +
    ``_commit_version``. Per commit, the same sourcing rules as
    :func:`delta_io.read_delta_cdf`: spec ``cdc`` actions are the ONLY
    source when present; otherwise inserts derive from dataChange adds
    (deletion vectors masked executor-side) and delete images from
    dataChange removes (the remove's recorded DV applied). OPTIMIZE
    emits nothing; a vacuumed range (commit JSON or a derived remove's
    data file) raises rather than dropping changes."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_cdf requires .option('path', ...)")
        self.starting = _starting_from_options(self.path, options)
        self._rl_init(options)
        self.fields, self.pcols, self.physical_of = _log_meta(self.path)
        for f in self.fields:
            t = f["type"]
            if f["name"] in self.pcols and not (
                isinstance(t, str)
                and (t in _SPARK_TO_PA or t.startswith("decimal("))
            ):
                raise NotImplementedError(
                    f"delta_cdf: unsupported partition-column type "
                    f"{t!r} for {f['name']!r}"
                )
        # rename-stable identity (r15 verdict #6): on a column-mapped
        # table a mid-range RENAME COLUMN keeps every field's
        # columnMapping.id + physical name, so the stream keeps
        # reading (output stays under the construction-time names —
        # a stream's schema is fixed at start). Only meaningful when
        # EVERY field carries an id.
        self._id_sig = (
            _id_type_sig(self.fields) if self.physical_of else None
        )

    def initialOffset(self):
        self._rl_advance(self.starting)
        return {"version": self.starting}

    def _count_files(self, v):
        from census_asc5_data_pipeline_spark.sources import delta_io

        cdcs = adds = removes = 0
        cdc_b = add_b = rm_b = 0
        for action in delta_io._commit_actions(self.path, v):
            if "cdc" in action:
                cdcs += 1
                cdc_b += int(action["cdc"].get("size", 0))
            elif "add" in action and action["add"].get("dataChange", True):
                adds += 1
                add_b += int(action["add"].get("size", 0))
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                removes += 1
                # size is spec-optional on removes
                rm_b += int(action["remove"].get("size") or 0)
        # cdc actions are the ONLY change source when present (spec)
        if cdcs:
            return cdcs, cdc_b
        return adds + removes, add_b + rm_b

    def latestOffset(self):
        from census_asc5_data_pipeline_spark.sources import delta_io

        versions = delta_io.delta_versions(self.path)
        last = max(versions) if versions else self.starting
        return {"version": self._rl_cap(versions, last)}

    def partitions(self, start, end):
        from census_asc5_data_pipeline_spark.sources import delta_io

        lo, hi = int(start["version"]), int(end["version"])
        hi = self._rl_range_check(lo, hi)
        versions = set(delta_io.delta_versions(self.path))
        want = [v for v in range(lo + 1, hi + 1)]
        missing = [v for v in want if v not in versions]
        if missing:
            raise FileNotFoundError(
                f"commit JSON for version(s) {missing} vacuumed — the "
                "stream cannot attribute that range"
            )
        parts = []
        for v in want:
            cdcs, ins, dels = [], [], []
            for action in delta_io._commit_actions(self.path, v):
                if "metaData" in action:
                    _check_schema(self, v, action["metaData"])
                elif "cdc" in action:
                    cdcs.append(action["cdc"])
                elif "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    ins.append(action["add"])
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    dels.append(action["remove"])
            if not cdcs and dels and self.pcols:
                # spec-optional partitionValues: deriving delete images
                # without them would attach NULL partition columns
                nopv = [
                    rm["path"]
                    for rm in dels
                    if not rm.get("partitionValues")
                ]
                if nopv:
                    raise ValueError(
                        f"remove action(s) {nopv} at version {v} carry "
                        "no partitionValues — delete images on a "
                        "partitioned table cannot be derived (enable "
                        "delta.enableChangeDataFeed)"
                    )
            if cdcs:
                for a in cdcs:
                    parts.append(
                        _CdfPart(
                            delta_io._data_file_path(
                                self.path, a["path"]
                            ),
                            v,
                            a.get("partitionValues") or {},
                            self.pcols,
                            self.fields,
                            "cdc",
                            phys=self.physical_of,
                        )
                    )
                continue  # cdc actions are the ONLY source (spec)
            for kind, actions in (("insert", ins), ("delete", dels)):
                for a in actions:
                    fp = delta_io._data_file_path(
                        self.path, a["path"]
                    )
                    if kind == "delete" and not os.path.exists(fp):
                        raise FileNotFoundError(
                            f"removed file {a['path']!r} vacuumed — "
                            f"version {v}'s delete images cannot be "
                            "derived (enable delta.enableChangeDataFeed)"
                        )
                    parts.append(
                        _CdfPart(
                            fp,
                            v,
                            a.get("partitionValues") or {},
                            self.pcols,
                            self.fields,
                            kind,
                            table=self.path,
                            dv=a.get("deletionVector"),
                            phys=self.physical_of,
                        )
                    )
        if not parts:
            parts.append(
                _CdfPart(None, hi, {}, self.pcols, self.fields, "insert")
            )
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition.path is None:
            return
        pcols = partition.pcols
        fields = partition.fields
        types = {f["name"]: f["type"] for f in fields}
        deleted = None
        if partition.dv:
            import numpy as np

            from census_asc5_data_pipeline_spark.sources.deletion_vectors import (
                read_dv_positions,
            )

            deleted = np.asarray(
                read_dv_positions(partition.table, partition.dv),
                dtype="int64",
            )
        pf = pq.ParquetFile(partition.path)
        row_offset = 0
        order = (
            [f["name"] for f in fields]
            + ["_change_type", "_commit_version"]
        )
        for batch in pf.iter_batches():
            if deleted is not None:
                import numpy as np

                idx = np.arange(
                    row_offset, row_offset + batch.num_rows, dtype="int64"
                )
                row_offset += batch.num_rows
                keep = idx[~np.isin(idx, deleted)] - (
                    row_offset - batch.num_rows
                )
                if len(keep) < batch.num_rows:
                    batch = batch.take(pa.array(keep, pa.int64()))
                if batch.num_rows == 0:
                    continue
            n = batch.num_rows
            arrays = list(batch.columns)
            phys = partition.phys or {}
            logical = {v: k for k, v in phys.items()}
            names = [
                logical.get(nm, nm) for nm in batch.schema.names
            ]
            for c in pcols:
                raw = partition.pv.get(phys.get(c, c))
                if raw == _HIVE_NULL:
                    raw = None
                arrays.append(
                    _pv_to_arrow(types.get(c, "string"), raw, n)
                )
                names.append(c)
            if partition.kind != "cdc":
                arrays.append(
                    pa.array([partition.kind] * n, pa.string())
                )
                names.append("_change_type")
            arrays.append(pa.array([partition.version] * n, pa.int64()))
            names.append("_commit_version")
            idx = {nm: i for i, nm in enumerate(names)}
            yield pa.RecordBatch.from_arrays(
                [arrays[idx[nm]] for nm in order], order
            )

    def commit(self, end):
        self._rl_advance(int(end["version"]))


class DeltaCdfDataSource(DataSource):
    @classmethod
    def name(cls):
        return "delta_cdf"

    def schema(self):
        fields, pcols, _phys = _log_meta(self.options.get("path"))
        from pyspark.sql import types as T

        st = T.StructType.fromJson(
            {"type": "struct", "fields": fields}
        )
        return T.StructType(
            st.fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )

    def streamReader(self, schema):
        return DeltaCdfStreamReader(self.options)


def register(spark) -> None:
    # once per session (r17): registration pickles and ships both
    # DataSource classes to the JVM (~1s) and is otherwise idempotent
    # — repeated per-query calls paid it every time
    if getattr(spark, "_graft_delta_stream_sources", False):
        return
    spark.dataSource.register(DeltaTailDataSource)
    spark.dataSource.register(DeltaCdfDataSource)
    spark._graft_delta_stream_sources = True

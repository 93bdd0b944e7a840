"""``MERGE INTO`` over both table formats — the write-side SQL verb a
warehouse user reaches for first (reference analog: report.md's view
DDL is read-only; the round-8/9 verdicts both named MERGE the last big
API-parity gap). Two layers:

- :func:`merge_into` — the engine: ANSI MERGE semantics (ordered
  WHEN MATCHED clauses, first match wins; a target row matching more
  than one source row raises, per the standard's cardinality rule)
  executed Spark-first and committed through the native table-format
  writers:

  * **Delta**: the third case of ``delta_io._row_level_delta``,
    beside DELETE and UPDATE — copy-on-write rewrites ONLY the files
    containing acted-on rows (untouched files are never read), DV
    mode retires them behind deletion vectors; inserts stage as new
    files, and the commit removes/adds atomically. With
    ``delta.enableChangeDataFeed=true`` the same commit stages spec
    change-data files carrying ``delete`` / ``update_preimage`` /
    ``update_postimage`` / ``insert`` rows.
  * **Iceberg**: merge-on-read — matched rows are retired by a
    POSITION-delete file and update post-images + inserts append as
    new data files, all in ONE snapshot (the delete manifest and the
    data manifest share the new sequence number; position deletes
    name explicit old file paths, so the same-sequence new data is
    untouched, per the spec's ``delete_seq >= data_seq`` rule).
    Cost is O(matched + inserted rows), never O(table).

- :func:`merge_into_sql` — a front-end for the constrained ANSI
  surface::

      MERGE INTO sales AS t USING updates AS s ON t.id = s.id
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET price = s.price
      WHEN NOT MATCHED THEN INSERT (id, price) VALUES (s.id, s.price)

  with ``UPDATE SET *`` / ``INSERT *`` shorthands. The target name
  resolves through a ``{name: (format, path)}`` catalog; the source is
  a temp view name or a parenthesized subquery.

The row semantics reuse the engine's CDC discipline (the ``cdc_apply``
registry query is the pure-DataFrame statement of the same
upsert/delete fold).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["merge_into", "merge_into_sql", "update_where", "dml_sql"]

# matched clause: ("update", cond_sql_or_None, {col: expr_sql}) or
# ("delete", cond_sql_or_None); not_matched: {col: expr_sql} or None
MatchedClause = tuple


def _clause_actions(
    clauses: list[MatchedClause], prefix: str = "m"
) -> list[tuple[str, object, dict | None]]:
    out = []
    for i, cl in enumerate(clauses):
        kind = cl[0]
        if kind == "update":
            _k, cond, sets = cl
            out.append((f"{prefix}u{i}", cond, dict(sets)))
        elif kind == "delete":
            cond = cl[1] if len(cl) > 1 else None
            out.append((f"{prefix}d{i}", cond, None))
        else:
            raise ValueError(f"unknown {prefix!r} clause kind {kind!r}")
    return out


def _all_clauses(
    matched: list[MatchedClause], nmbs: list[MatchedClause]
) -> list[tuple[str, object, dict | None]]:
    return _clause_actions(matched, "m") + _clause_actions(nmbs, "n")


def _chain(clauses: list[tuple[str, object, dict | None]]):
    """WHEN chain in reverse so the FIRST clause wins (ANSI order)."""
    chain = F.lit("keep")
    for tag, cond, _sets in reversed(clauses):
        hit = F.lit(True) if cond is None else F.coalesce(
            F.expr(cond), F.lit(False)
        )
        chain = F.when(hit, F.lit(tag)).otherwise(chain)
    return chain


def _obs_n(obs) -> int | None:
    """The ``n`` count an ``Observation`` collected, or None when the
    metrics are unavailable. AQE's runtime empty-relation propagation
    can REPLACE the subtree holding a CollectMetrics node when a
    downstream stage materializes empty (the row-level no-op merge);
    the query then completes with an EMPTY metrics row. Detect that
    (schema-less zero-length row, read through the private
    ``Observation._jo`` handle — pinned by tests/test_merge.py) and
    report "unavailable" instead of tripping toPyRow's assertion."""
    jrow = obs._jo.getRow()
    if jrow.length() == 0:
        return None
    return int(obs.get["n"])


_KEY_REF = r"([A-Za-z_]\w*)\s*\.\s*(`(?:[^`]|``)+`|[A-Za-z_]\w*)"
_EQUI_RE = re.compile(rf"^{_KEY_REF}\s*==?\s*{_KEY_REF}$")
# top-level keywords whose precedence a plain AND split cannot honour
_NO_SPLIT_RE = re.compile(r"(OR|NOT|BETWEEN|CASE)\b", re.IGNORECASE)
_AND_RE = re.compile(r"AND\b", re.IGNORECASE)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _top_level(text: str):
    """``(index, char, paren depth)`` of every character of ``text``
    outside quoted strings and backticked identifiers."""
    depth, q, i = 0, None, 0
    while i < len(text):
        ch = text[i]
        if q:
            if ch == "\\" and q != "`":
                i += 1
            elif ch == q:
                q = None
        elif ch in "'\"`":
            q = ch
        else:
            depth += ch == "("
            yield i, ch, depth
            depth -= ch == ")"
        i += 1


def _strip_parens(text: str) -> str:
    """``text`` without redundant enclosing parentheses."""
    text = text.strip()
    while text.startswith("(") and text.endswith(")") and not any(
        ch == ")" and depth == 1 and i < len(text) - 1
        for i, ch, depth in _top_level(text)
    ):
        text = text[1:-1].strip()
    return text


def _top_conjuncts(on: str) -> list[str]:
    """The top-level ``AND`` conjuncts of ``on``, or ``[]`` when a
    top-level OR / NOT / BETWEEN / CASE makes a plain split unsound
    (``a AND b OR c`` is not a conjunction of ``a``)."""
    text = _strip_parens(on)
    out, last = [], 0
    for i, _ch, depth in _top_level(text):
        if depth or (i and (text[i - 1].isalnum() or text[i - 1] == "_")):
            continue
        if _NO_SPLIT_RE.match(text, i):
            return []
        if _AND_RE.match(text, i):
            out.append(text[last:i])
            last = i + 3
    out.append(text[last:])
    return [_strip_parens(c) for c in out]


def _boundable(tt: T.DataType, st: T.DataType) -> bool:
    """Whether ``min``/``max`` of a source key of type ``st`` bound
    the target values of type ``tt`` it can equal, in a domain both
    skipping evaluators compare exactly. Floats (NaN = NaN joins)
    and timestamps (collected in the driver's local zone) are left
    out, as are non-binary string collations."""
    if isinstance(tt, _INTEGRAL) and isinstance(st, _INTEGRAL):
        return True
    if tt != st:
        return False
    if isinstance(tt, T.StringType):
        return getattr(tt, "collation", "UTF8_BINARY") == "UTF8_BINARY"
    return isinstance(tt, (T.DateType, T.DecimalType, T.BooleanType))


def _equi_keys(
    on: str,
    target_fields: list[T.StructField],
    source_fields: list[T.StructField],
) -> list[tuple[str, str]]:
    """``(target column, source column)`` for every top-level ``AND``
    conjunct of ``on`` shaped ``t.a = s.b`` (either order; ``<=>``
    never qualifies) whose types :func:`_boundable` accepts. Names
    resolve case-insensitively to the schemas' own spelling."""

    def resolve(name: str, fields) -> T.StructField | None:
        name = name[1:-1].replace("``", "`") if name[0] == "`" else name
        hits = [f for f in fields if f.name.lower() == name.lower()]
        return hits[0] if len(hits) == 1 else None

    out: list[tuple[str, str]] = []
    for conj in _top_conjuncts(on):
        m = _EQUI_RE.match(conj)
        if not m:
            continue
        sides = {
            m.group(1).lower(): m.group(2), m.group(3).lower(): m.group(4)
        }
        if set(sides) != {"t", "s"}:
            continue
        tf = resolve(sides["t"], target_fields)
        sf = resolve(sides["s"], source_fields)
        if tf is not None and sf is not None and _boundable(
            tf.dataType, sf.dataType
        ):
            out.append((tf.name, sf.name))
    return out


def _merge_candidates(
    source: DataFrame,
    on: str,
    nmbs: list[MatchedClause],
    target_fields: list[T.StructField],
    live: list[dict],
    has_stats,
    prune,
) -> list[dict]:
    """The live files a MERGE must scan: those whose min/max metadata
    admit a value of every equi-joined target key inside the source
    key's ``[min, max]``. A target row outside that interval can
    equal no source row, so it is neither matched, nor an insert
    blocker, nor rewritten. ``has_stats(col)`` says whether any live
    file carries bounds for a target column; ``prune(atoms)`` is the
    format's evaluator over ``live``. Every live file stays when a
    WHEN NOT MATCHED BY SOURCE clause exists (it acts on rows in
    every file) or no stats-backed equi-conjunct exists; the bounds
    aggregate is then not run. A source with no non-NULL key value
    can match nothing: no file is a candidate."""
    if nmbs or not live:
        return live
    pairs = [
        (t, s)
        for t, s in _equi_keys(on, target_fields, source.schema.fields)
        if has_stats(t)
    ]
    if not pairs:
        return live
    keys = [F.col("`" + s.replace("`", "``") + "`") for _t, s in pairs]
    row = source.agg(
        *[agg(k) for k in keys for agg in (F.min, F.max)]
    ).collect()[0]
    atoms: list[tuple] = []
    for i, (t, _s) in enumerate(pairs):
        lo, hi = row[2 * i], row[2 * i + 1]
        if lo is None:
            return []
        atoms += [(t, ">=", lo), (t, "<=", hi)]
    return prune(atoms)


def _plan_merge(
    scan: DataFrame,
    source: DataFrame,
    on: str,
    matched: list[MatchedClause],
    nmbs: list[MatchedClause],
    not_matched: dict | None,
    target_fields: list[T.StructField],
) -> tuple[DataFrame, DataFrame | None, object | None]:
    """Shared row semantics: returns (tagged, inserts, card_check).

    ``tagged`` = every target row of ``scan`` left-joined with the
    source, carrying ``__action`` ('keep' | 'm…' | 'n…') chosen by the
    FIRST matching clause (ANSI order) — WHEN MATCHED clauses for
    matched rows, WHEN NOT MATCHED BY SOURCE clauses (t.*-only
    expressions) for source-absent target rows — plus ``__base`` /
    ``__ri`` for position addressing.
    ``card_check`` enforces the standard's cardinality rule (a target
    row matching more than one source row raises). r17: instead of a
    dedicated inner-join probe job, two ``observe()`` counts ride the
    caller's FIRST action over ``tagged`` (the metrics collect / the
    position staging) — the left join preserves every scan row exactly
    once UNLESS some target row matches several source rows, so
    ``count(tagged) > count(scan)`` is exactly the old group-count
    probe. The caller MUST invoke ``card_check()`` after its first
    ``tagged`` action and BEFORE committing (None when no WHEN
    MATCHED clause — the ANSI insert-only exemption).
    ``inserts`` = the NOT MATCHED [BY TARGET] source rows projected to
    the target schema (None when no insert clause). ``not_matched``
    is a {col: expr} dict (one unconditional INSERT) or an ORDERED
    list of ``(cond_sql_or_None, {col: expr})`` — the ANSI
    ``WHEN NOT MATCHED AND <cond> THEN INSERT`` surface, first
    matching clause wins, rows matching none are skipped."""
    reserved = {"__base", "__ri"} & set(source.columns)
    if reserved:
        raise ValueError(
            f"MERGE source carries reserved column(s) {sorted(reserved)}"
        )
    if isinstance(not_matched, dict):
        not_matched = [(None, not_matched)]
    tnames = {f.name for f in target_fields}
    for _cond, vals in not_matched or []:
        unknown = set(vals) - tnames
        if unknown:
            raise ValueError(
                f"INSERT column(s) {sorted(unknown)} not in the table "
                "schema (pass evolve_schema=True to add source columns)"
            )
    for _tag, _cond, sets in _all_clauses(matched, nmbs):
        bad = set(sets or {}) - tnames
        if bad:
            raise ValueError(
                f"SET column(s) {sorted(bad)} not in the table schema "
                "(pass evolve_schema=True to add source columns)"
            )
    src = source.withColumn("__s_matched", F.lit(True)).alias("s")
    scan0 = scan  # un-observed: the insert anti-join must not share
    card_check = None
    if matched:
        # cardinality check rides the caller's first action over
        # ``tagged`` (r17 — was a dedicated inner-join probe job): the
        # left join emits each scan row once per matching source row,
        # so a fan-out (tagged count above scan count) is exactly a
        # target row matching more than one source row. Filters do not
        # push through CollectMetrics, so both counts see every row.
        from pyspark.sql import Observation

        obs_scan = Observation()
        obs_tag = Observation()
        scan = scan.observe(obs_scan, F.count(F.lit(1)).alias("n"))
        j = scan.alias("t").join(src, F.expr(on), "left").observe(
            obs_tag, F.count(F.lit(1)).alias("n")
        )

        def card_check(_s=obs_scan, _t=obs_tag):
            nt, ns = _obs_n(_t), _obs_n(_s)
            if nt is not None and ns is not None:
                if nt > ns:
                    raise ValueError(
                        "MERGE cardinality violation: a target row "
                        "matches more than one source row"
                    )
                return
            # metrics dropped by AQE (empty downstream result) — fall
            # back to the pre-r17 probe job; rare, and exactly the
            # case where almost nothing matched
            dup = (
                scan0.alias("t")
                .join(src, F.expr(on), "inner")
                .groupBy(F.col("t.__base"), F.col("t.__ri"))
                .count()
                .where("count > 1")
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE cardinality violation: a target row "
                    "matches more than one source row"
                )

    else:
        j = scan.alias("t").join(src, F.expr(on), "left")
        # insert-only exemption (ANSI / delta-spark): with no WHEN
        # MATCHED clause, multiple source matches are legal — but the
        # left join still fans such target rows out, so collapse them.
        # Exact: the matched-side action is uniformly 'keep' and NOT
        # MATCHED BY SOURCE rows (source-absent) cannot be duplicated.
        j = j.dropDuplicates(["__base", "__ri"])
    is_matched = F.col("s.__s_matched").isNotNull()
    action = F.when(
        is_matched, _chain(_clause_actions(matched, "m"))
    ).otherwise(_chain(_clause_actions(nmbs, "n")))
    tagged = j.withColumn("__action", action)
    inserts = None
    if not_matched:
        anti = src.join(scan0.alias("t"), F.expr(on), "left_anti")
        # first insert clause wins (ANSI order); unmatched-by-every-
        # condition rows are skipped
        iclauses = [
            (f"i{k}", cond, dict(vals))
            for k, (cond, vals) in enumerate(not_matched)
        ]
        ichain = F.lit("skip")
        for itag, cond, _vals in reversed(iclauses):
            hit = F.lit(True) if cond is None else F.coalesce(
                F.expr(cond), F.lit(False)
            )
            ichain = F.when(hit, F.lit(itag)).otherwise(ichain)
        anti = anti.withColumn("__iaction", ichain).where(
            F.col("__iaction") != "skip"
        )
        cols = []
        for f in target_fields:
            expr = F.lit(None).cast(f.dataType)
            for itag, _cond, vals in reversed(iclauses):
                if f.name in vals:
                    expr = F.when(
                        F.col("__iaction") == itag,
                        F.expr(vals[f.name]).cast(f.dataType),
                    ).otherwise(expr)
            cols.append(expr.alias(f.name))
        inserts = anti.select(cols)
    return tagged, inserts, card_check


def _rewritten_cols(
    matched: list[MatchedClause],
    nmbs: list[MatchedClause],
    target_fields: list[T.StructField],
):
    """Per-target-column expression applying the winning UPDATE
    clause's SET (rows whose action is a delete tag are filtered
    before this projection)."""
    clauses = _all_clauses(matched, nmbs)
    cols = []
    for f in target_fields:
        expr = F.col(f"t.{f.name}")
        for tag, _cond, sets in clauses:
            if sets is not None and f.name in sets:
                expr = F.when(
                    F.col("__action") == tag,
                    F.expr(sets[f.name]).cast(f.dataType),
                ).otherwise(expr)
        cols.append(expr.alias(f.name))
    return cols


def _delete_tags(matched, nmbs) -> list[str]:
    return [
        t for t, _c, sets in _all_clauses(matched, nmbs) if sets is None
    ]


def _update_tags(matched, nmbs) -> list[str]:
    return [
        t
        for t, _c, sets in _all_clauses(matched, nmbs)
        if sets is not None
    ]


def merge_into(
    spark: SparkSession,
    fmt: str,
    path: str,
    source: DataFrame,
    on: str,
    matched: list[MatchedClause] | None = None,
    not_matched: dict | None = None,
    not_matched_by_source: list[MatchedClause] | None = None,
    mode: str = "cow",
    evolve_schema: bool = False,
    branch: str | None = None,
) -> int | None:
    """Execute MERGE against a ``delta`` or ``iceberg`` table at
    ``path``. ``on`` / clause conditions / SET and VALUES expressions
    are Spark SQL over the aliases ``t`` (target) and ``s`` (source).
    ``matched`` is an ORDERED list of ``("update", cond|None, {col:
    expr})`` / ``("delete", cond|None)``; ``not_matched`` maps target
    columns to insert expressions (missing columns insert NULL);
    ``not_matched_by_source`` is the delta-spark extension — ordered
    update/delete clauses applied to TARGET rows with no source match
    (expressions may reference ``t.*`` only — there is no source row).
    Delta runs through ``delta_io._row_level_delta``, the DELETE /
    UPDATE commit path, as its case with a per-row clause tag and
    inserted rows (:class:`_DeltaMerge` holds MERGE's own steps).
    Delta ``mode``: ``'cow'`` rewrites the matched files; ``'dv'``
    retires acted-on rows via deletion vectors and appends update
    post-images + inserts — no data file rewritten, O(acted + inserted
    rows), the delta-spark DV-MERGE shape. Iceberg is always
    merge-on-read. ``evolve_schema=True`` (delta-spark's
    ``withSchemaEvolution()``, Delta only): source columns absent from
    the target are ADDED to the table schema in the same commit
    (nullable; pre-existing rows read NULL) — without it schema
    enforcement keeps drift out. Returns the committed
    version/snapshot id, or None when the merge is a no-op.

    Both formats scan only the live files the source's join keys can
    reach. Every top-level ``AND`` conjunct of ``on`` shaped
    ``t.a = s.b`` (either order) whose sides have the same type —
    integral, string, date, decimal or boolean; any two integral
    types also qualify — contributes ``a >= min(s.b) AND a <= max(s.b)``,
    one aggregate over the (persisted) source, and files whose
    min/max stats or identity partition values exclude that range
    are neither read, matched nor rewritten. A source with no
    non-NULL key scans no file and inserts every row. Pruning does
    not apply, and the aggregate is not run, when a WHEN NOT MATCHED
    BY SOURCE clause exists (it acts on rows in every file), when no
    conjunct qualifies (``<=>``, expressions such as ``s.k + 1``,
    mixed types, floats, timestamps, or a top-level OR / NOT /
    BETWEEN / CASE in ``on``), or when no live file carries stats for
    the key."""
    matched = matched or []
    nmbs = not_matched_by_source or []
    if not matched and not nmbs and not_matched is None:
        raise ValueError("MERGE needs at least one WHEN clause")
    if branch is not None and fmt != "iceberg":
        raise ValueError(
            "branch writes are an Iceberg refs feature — Delta has "
            "no branch refs"
        )
    if fmt not in ("delta", "iceberg"):
        raise ValueError(f"unsupported format {fmt!r} (delta|iceberg)")
    if fmt == "delta" and mode not in ("cow", "dv"):
        raise ValueError(f"unsupported mode {mode!r} (cow|dv)")
    # Persist the source for the statement's lifetime (r16): the merge
    # plan references it from SEPARATE actions — the tagged left
    # join's metrics/staging actions and the insert anti-join — and
    # broadcast builds are not reused across actions, so an uncached
    # source recomputed its whole lineage per action. Statement-
    # scoped: released in the finally regardless of commit outcome.
    # r17 (ADVICE): only when the CALLER has not already cached it —
    # persisting twice raises on a different storage level, and the
    # finally must not drop a cache this call did not add.
    added_cache = not source.is_cached
    if added_cache:
        source = source.persist()
    try:
        if fmt == "delta":
            return _merge_delta(
                spark, path, source, on, matched, nmbs, not_matched,
                mode, evolve_schema,
            )
        return _merge_iceberg(
            spark, path, source, on, matched, nmbs, not_matched,
            evolve_schema, branch=branch,
        )
    finally:
        if added_cache:
            source.unpersist()


def _refuse_sets(meta: dict, names) -> None:
    """Generated and identity columns take no SET — UPDATE's ``sets``
    and MERGE's clause SETs alike: a generated column is recomputed
    from its expression, an identity value is allocated by the
    writer."""
    from census_asc5_data_pipeline_spark.sources import delta_io as d

    for kind, cols, why in (
        (
            "generated", [n for n, _e, _t in d._generated_columns(meta)],
            "they are recomputed from their generation expression",
        ),
        (
            "identity", [i[0] for i in d._identity_columns(meta)],
            "their values are writer-allocated",
        ),
    ):
        bad = set(cols) & set(names)
        if bad:
            raise ValueError(
                f"cannot SET {kind} column(s) {sorted(bad)} — {why}"
            )


def _merge_delta(
    spark, path, source, on, matched, nmbs, not_matched, mode="cow",
    evolve_schema=False,
) -> int | None:
    from census_asc5_data_pipeline_spark.sources import delta_io as d

    plan = _DeltaMerge(source, on, matched, nmbs, not_matched, evolve_schema)
    try:
        return d._row_level_delta(spark, path, on, mode, plan.image, plan)
    finally:
        if plan.cache is not None:
            plan.cache.unpersist()


class _DeltaMerge:
    """A Delta MERGE's own steps inside ``delta_io._row_level_delta``,
    which scans, counts, retires or rewrites, stages and commits it:
    schema evolution, the source-key candidates, the ``__action`` tag
    of every target row (:func:`_plan_merge`), the post-image of each
    clause's SET, and the inserts — identity allocation, generated
    columns and their count. The core calls :meth:`evolve`,
    :meth:`image`, :meth:`candidates`, :meth:`tag` and
    :meth:`new_rows` in that order; each reads what the one before
    recorded."""

    def __init__(self, source, on, matched, nmbs, not_matched, evolve_schema):
        self.source, self.on = source, on
        self.matched, self.nmbs, self.not_matched = matched, nmbs, not_matched
        self.nm_list = (
            [(None, not_matched)]
            if isinstance(not_matched, dict)
            else list(not_matched or [])
        )
        self.evolve_schema = evolve_schema
        # insert-only merges never remove or modify committed rows, so
        # they remain legal on delta.appendOnly tables; anything with a
        # MATCHED / NOT MATCHED BY SOURCE clause is a row modification
        self.gate = "MERGE" if (matched or nmbs) else "WRITE"
        self.inserting = not_matched is not None
        self.del_tags = _delete_tags(matched, nmbs)
        self.upd_tags = _update_tags(matched, nmbs)
        self.inserts = self.cache = self.rows = self._obs = None
        self.gens, self.idents, self.basis = [], [], {}

    def evolve(self, meta, schema, physical_of):
        """Check that identity and generated columns are supplied by
        all insert clauses or none, then add the source columns the
        target lacks when evolving. Returns (meta, schema,
        physical_of, widened)."""
        from census_asc5_data_pipeline_spark.sources import delta_io as d

        gen_names = [n for n, _e, _t in d._generated_columns(meta)]
        idents = d._identity_columns(meta)
        self.basis = {n: h for n, _d, _s, _st, h, _a in idents}
        self.idents = sorted(i[0] for i in idents)
        for kind, names, why in (
            (
                "identity", self.idents,
                "mixed clauses would interleave explicit values with "
                "allocation",
            ),
            (
                "generated", sorted(gen_names),
                "mixed clauses would leave unsupplied rows NULL instead "
                "of computed",
            ),
        ):
            for name in names:
                supplied = [name in vals for _c, vals in self.nm_list]
                if any(supplied) and not all(supplied):
                    raise ValueError(
                        f"{kind} column {name!r} must be supplied by ALL "
                        f"insert clauses or NONE — {why}"
                    )
        new_srcs = [
            f
            for f in self.source.schema.fields
            if f.name not in schema.fieldNames()
        ] if self.evolve_schema else []
        if not new_srcs:
            return meta, schema, physical_of, False
        if not physical_of:
            extra = [T.StructField(f.name, f.dataType, True) for f in new_srcs]
            return meta, T.StructType(schema.fields + extra), physical_of, True
        # column-mapped evolution (r16 — the overwriteSchema remint's
        # additive twin): each NEW column mints a fresh physicalName +
        # columnMapping.id ABOVE maxColumnId (ids never reused),
        # maxColumnId bumps in the same commit, and staging maps the
        # new logical names through the extended mapping
        import uuid

        conf0 = meta.get("configuration") or {}
        next_id = int(conf0.get("delta.columnMapping.maxColumnId", "0") or 0)
        physical_of = dict(physical_of)
        extra = []
        for f in new_srcs:
            next_id += 1
            phys = f"col-{uuid.uuid4()}"
            physical_of[f.name] = phys
            extra.append(
                T.StructField(
                    f.name,
                    f.dataType,
                    True,
                    {
                        "delta.columnMapping.id": next_id,
                        "delta.columnMapping.physicalName": phys,
                    },
                )
            )
        meta = dict(
            meta,
            configuration={
                **conf0, "delta.columnMapping.maxColumnId": str(next_id),
            },
        )
        return meta, T.StructType(schema.fields + extra), physical_of, True

    def image(self, meta, schema):
        """The post-image builder: each row takes its winning clause's
        SET, generated columns recomputed."""
        from census_asc5_data_pipeline_spark.sources import delta_io as d

        _refuse_sets(
            meta,
            {c for _t, _c, sets in _all_clauses(self.matched, self.nmbs)
             for c in sets or {}},
        )
        gens = d._generated_columns(meta)
        self.gens = gens
        cols = _rewritten_cols(self.matched, self.nmbs, list(schema.fields))
        return lambda frame, _pred, extra: d._regenerate(
            frame.select(cols + extra), meta, gens
        )

    def candidates(self, fields, live, has_stats, prune):
        return _merge_candidates(
            self.source, self.on, self.nmbs, fields, live, has_stats, prune
        )

    def tag(self, scan, fields):
        """``(tagged, card_check)`` of :func:`_plan_merge`; the inserts
        are kept for :meth:`new_rows`."""
        tagged, self.inserts, card_check = _plan_merge(
            scan, self.source, self.on, self.matched, self.nmbs,
            self.not_matched, fields,
        )
        return tagged, card_check

    def new_rows(self, touched, cdf, meta):
        """The inserts: ``(rows, staged, n, checks, hwm)`` — ``rows``
        with identity values allocated and generated columns computed
        (the CDF insert images), ``staged`` the same rows to write,
        ``n`` their count (None while it rides an ``observe()`` on the
        staging write: see :meth:`inserted`), the checks of generated
        columns an insert clause supplies, and the advanced identity
        high water marks. ``n`` is counted first when a decision
        before the write needs it: the no-op return when no file is
        touched, identity allocation, generated columns and the CDF
        insert images."""
        from census_asc5_data_pipeline_spark.sources import delta_io as d

        ins = self.inserts
        if ins is None:
            return None, None, 0, [], {}
        count_first = not touched or bool(self.idents or self.gens) or cdf
        if count_first or d._table_constraints(meta):
            # statement-scoped persist (r17): read again by the staging
            # write after the count or the constraint aggregate (and by
            # the identity allocation and the CDC union). Bounded by the
            # (already persisted) source; released by _merge_delta
            ins = self.cache = ins.persist()
        n = ins.count() if count_first else None
        if n == 0:
            return None, None, 0, [], {}
        hwm: dict[str, int] = {}
        if self.idents:
            # clauses that DON'T name the identity column projected it
            # as NULL — drop it so _apply_identity allocates gap-free;
            # clauses that DO name it pass explicit values through the
            # same ALWAYS-refusal / BY DEFAULT hwm-ratchet rules as
            # INSERT. Update post-images keep their values (SET refused)
            fields = ins.columns
            unsupplied = [
                c for c in self.idents
                if not any(c in vals for _c, vals in self.nm_list)
            ]
            ins, hwm = d._apply_identity(ins.drop(*unsupplied), meta, "MERGE")
            ins = ins.select([F.col(f"`{c}`") for c in fields])
        checks: list[tuple[str, str]] = []
        for name, expr, dtype in self.gens:
            # a supplied generated column is validated (the check rides
            # the constraint aggregate), an unsupplied one computed
            if any(name in vals for _c, vals in self.nm_list):
                checks.append(
                    (
                        f"GENERATED {name}",
                        f"`{name}` <=> CAST(({expr}) AS "
                        f"{dtype.simpleString()})",
                    )
                )
            else:
                ins = ins.withColumn(name, F.expr(expr).cast(dtype))
        self.rows = staged = ins
        if n is None:
            from pyspark.sql import Observation

            self._obs = Observation()
            staged = ins.observe(self._obs, F.count(F.lit(1)).alias("n"))
        return ins, staged, n, checks, hwm

    def inserted(self) -> int:
        """The insert count the staging write observed."""
        n = _obs_n(self._obs)
        return self.rows.count() if n is None else n

    def recheck(self, meta) -> None:
        """Abort when identity values were allocated since planning."""
        from census_asc5_data_pipeline_spark.sources import delta_io as d

        d._check_identity_basis(meta, self.basis, "MERGE")


def _merge_iceberg(
    spark, path, source, on, matched, nmbs, not_matched,
    evolve_schema=False, branch=None,
) -> int | None:
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    cur_v, meta = ice._current_metadata(path)
    # v3 MERGE is lineage-preserving since r16: updated rows carry
    # their _row_id as a materialized column (a null materialized
    # _last_updated_sequence_number inherits the NEW file's sequence
    # number — "last updated" semantics for free), inserts take ids
    # from the new files' first_row_id blocks, and the retirements
    # commit as Puffin deletion vectors (the spec's mandatory v3
    # position-delete shape)
    fv = ice._format_version_gate(
        meta, "MERGE", write=True, v3_write_ok=True,
        # the target scan materializes defaults (r16) — copied rows'
        # post-images carry the default, never a wrong NULL
        defaults_ok=True,
    )
    branch_head = ice._branch_head(meta, branch)
    schema, fields = ice._schema_of(meta)
    pcols = ice._spec_pcols(meta, fields)
    evolved_fields = None
    extra_sp: list[T.StructField] = []
    if evolve_schema:
        extra_sp = [
            T.StructField(f.name, f.dataType, True)
            for f in source.schema.fields
            if f.name not in schema.fieldNames()
        ]
        if extra_sp:
            # Iceberg schema evolution: register a NEW schema-id with
            # name-stable old field ids + fresh ids for the additions
            # (the write_iceberg overwrite discipline); old data files
            # scan NULL for the new columns
            next_id = max(
                [int(meta.get("last-column-id", 0))]
                + [f["id"] for f in fields]
            )
            new_ice = []
            for f in extra_sp:
                t = ice._SPARK_TO_ICE.get(f.dataType.simpleString())
                if t is None:
                    raise ValueError(
                        "iceberg schema evolution supports flat "
                        f"primitives + timestamp; {f.name!r} is "
                        f"{f.dataType.simpleString()!r}"
                    )
                next_id += 1
                new_ice.append(
                    {
                        "id": next_id,
                        "name": f.name,
                        "required": False,
                        "type": t,
                    }
                )
            evolved_fields = list(fields) + new_ice
            schema = T.StructType(list(schema.fields) + extra_sp)
    data_files, delete_fs = ice._snapshot_files(path, meta, branch_head)
    # source-key pruning through _update_iceberg's evaluator. Only the
    # per-file bounds pass runs: it folds identity partition values in
    # as point intervals, so it drops every file a manifest-summary
    # skip would, and has_stats reads every live entry anyway
    ident_src = {pf["source"] for pf in pcols if pf["transform"] == "identity"}
    fid_of = {f["name"]: int(f["id"]) for f in fields}

    def has_stats(col: str) -> bool:
        fid = fid_of.get(col)
        return col in ident_src or any(
            fid in ice.iceberg_bounds.kv_map(dd.get("lower_bounds"))
            for dd in data_files
        )

    cand = _merge_candidates(
        source, on, nmbs, list(schema.fields), data_files, has_stats,
        lambda atoms: ice._skip_by_bounds(
            data_files, atoms, fields, meta,
            session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"),
        ),
    )
    scan, abs_of_base = ice._row_level_scan(
        spark,
        T.StructType(schema.fields[: len(fields)]),
        fields, cand, delete_fs, fv, lineage=fv >= 3,
    )
    for f in extra_sp:
        # pre-evolution files scan NULL for the added columns
        scan = scan.withColumn(f.name, F.lit(None).cast(f.dataType))
    tagged, inserts, card_check = _plan_merge(
        scan, source, on, matched, nmbs, not_matched, list(schema.fields)
    )
    if not cand:
        # no candidate file cannot match any source row: the
        # cardinality rule is vacuously satisfied (r17 — skips the probe
        # fallback that AQE's empty-relation handling would otherwise
        # force)
        card_check = None
    # statement-scoped inserts persist (r17): the insert anti-join is
    # referenced by both the required-field validation aggregate and
    # the staging write — each would re-run it (re-scanning the
    # target) on an uncached frame. Bounded by the (already
    # persisted) source size; released in the finally.
    ins_cache = None
    if inserts is not None:
        inserts = ins_cache = inserts.persist()
    try:
        return _merge_iceberg_commit(
            spark, path, cur_v, meta, fv, schema, matched, nmbs,
            tagged, inserts, card_check, evolved_fields, branch,
            delete_fs, abs_of_base,
        )
    finally:
        if ins_cache is not None:
            ins_cache.unpersist()


def _merge_iceberg_commit(
    spark, path, cur_v, meta, fv, schema, matched, nmbs,
    tagged, inserts, card_check, evolved_fields, branch, delete_fs,
    abs_of_base,
) -> int | None:
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    del_tags = _delete_tags(matched, nmbs)
    upd_tags = _update_tags(matched, nmbs)
    act_tags = del_tags + upd_tags
    # merge-on-read: retire EVERY acted-on row by position, append
    # update post-images + inserts as new data — one snapshot.
    # abs_of_base empty = EMPTY target: nothing can be retired, so
    # skip the position staging write outright (r17)
    retired = tagged.where(F.col("__action").isin(act_tags)) if (
        act_tags and abs_of_base
    ) else None
    new_rows: DataFrame | None = None
    if upd_tags:
        new_rows = tagged.where(F.col("__action").isin(upd_tags)).select(
            _rewritten_cols(matched, nmbs, list(schema.fields))
            + (
                # updated rows keep their identity: the target row's
                # _row_id materializes into the rewritten image
                [F.col("t._row_id").alias("_row_id")]
                if fv >= 3
                else []
            )
        )
    if inserts is not None:
        if fv >= 3:
            # fresh rows: null materialized id → assigned from the
            # new file's first_row_id block on read
            inserts = inserts.withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        new_rows = (
            inserts if new_rows is None else new_rows.unionByName(inserts)
        )

    return ice._commit_row_level(
        path, cur_v, meta, "MERGE",
        None if retired is None else ice._positions(
            spark,
            retired.select(
                F.col("t.__base").alias("__base"),
                F.col("t.__ri").alias("__ri"),
            ),
            abs_of_base,
            fv,
        ),
        new_rows,
        evolved_fields=evolved_fields, branch=branch,
        existing_deletes=delete_fs, precommit_check=card_check,
    )


# --------------------------------------------------------- SQL layer

_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w.]+)\s*(?:AS\s+)?(?P<talias>\w+)?"
    r"\s+USING\s+(?P<source>\([^)]*\)|[\w.]+)\s*(?:AS\s+)?"
    r"(?P<salias>\w+)?\s+ON\s+(?P<on>.*?)(?=\s+WHEN\s)(?P<clauses>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET))?\s*"
    r"(?:AND\s+(?P<cond>.*?))?\s*"
    r"THEN\s+(?P<act>UPDATE\s+SET\s+.*?|DELETE|INSERT\s+.*?)"
    r"(?=\s*WHEN\s+(?:NOT\s+)?MATCHED|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses, quotes and backticks."""
    out, last = [], 0
    for i, ch, depth in _top_level(text):
        if ch == sep and not depth:
            out.append(text[last:i])
            last = i + 1
    out.append(text[last:])
    return [s.strip() for s in out if s.strip()]


def merge_into_sql(
    spark: SparkSession,
    sql: str,
    catalog: dict[str, tuple[str, str]],
    evolve_schema: bool = False,
) -> int | None:
    """Parse and execute a constrained ANSI ``MERGE INTO`` statement.
    ``catalog`` maps table names to ``(format, path)``
    (format in {'delta','iceberg'}). The USING source is a registered
    temp view / table name or a parenthesized subquery; aliases
    default to ``t`` / ``s`` and arbitrary aliases are rewritten to
    them. Supports ordered WHEN MATCHED [AND cond] THEN UPDATE SET
    (col=expr... or *) / DELETE and WHEN NOT MATCHED THEN INSERT
    ((cols) VALUES (exprs) or *). ``evolve_schema=True`` widens the
    ``SET *`` / ``INSERT *`` expansions (and the Delta table schema)
    with source columns absent from the target."""
    text = sql.strip().rstrip(";")
    # lift a parenthesized USING subquery out before the regex (its
    # nested parens defeat a regex source matcher)
    subquery = None
    um = re.search(r"\bUSING\s*\(", text, re.IGNORECASE)
    if um:
        i = um.end() - 1
        depth, j = 0, i
        for j in range(i, len(text)):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise ValueError("unbalanced parentheses in USING subquery")
        subquery = text[i + 1 : j]
        text = text[: i] + "__subquery__" + text[j + 1 :]
    m = _MERGE_RE.match(text)
    if not m:
        raise ValueError(
            "cannot parse MERGE statement (supported: MERGE INTO t "
            "USING s ON ... WHEN [NOT] MATCHED [AND ...] THEN "
            "UPDATE SET ...|DELETE|INSERT ...)"
        )
    tname = m.group("target")
    if tname not in catalog:
        raise ValueError(
            f"table {tname!r} not in catalog (have {sorted(catalog)})"
        )
    fmt, path = catalog[tname]
    src_ref = m.group("source").strip()
    if src_ref == "__subquery__":
        source = spark.sql(subquery)
    else:
        source = spark.table(src_ref)
    talias = m.group("talias") or "t"
    salias = m.group("salias") or "s"
    if talias.lower() == salias.lower():
        raise ValueError(
            f"target and source aliases collide ({talias!r}) — "
            "references cannot be attributed"
        )

    def _realias(expr: str) -> str:
        # ONE quote-aware pass rewriting both aliases simultaneously —
        # sequential re.sub corrupts expressions when an alias collides
        # with a canonical name (MERGE ... AS s USING ... AS t turned
        # 's.id = t.id' into 's.id = s.id') and rewrote matches inside
        # string literals (r10 ADVICE)
        tl, sl = talias.lower(), salias.lower()

        def _canon(word: str, at: int, after: int) -> str | None:
            # alias position: followed by '.', not itself a field
            # access (preceded by '.')
            if (
                after < len(expr)
                and expr[after] == "."
                and (at == 0 or expr[at - 1] != ".")
            ):
                lw = word.lower()
                if lw == tl:
                    return "t."
                if lw == sl:
                    return "s."
            return None

        out: list[str] = []
        i, n = 0, len(expr)
        while i < n:
            ch = expr[i]
            if ch in "'\"":
                # copy string literals verbatim, honoring BOTH escape
                # forms Spark SQL accepts: backslash ('a\'b') and
                # doubled quote ('a''b') — r11 ADVICE
                j = i + 1
                while j < n:
                    if expr[j] == "\\":
                        j += 2
                        continue
                    if expr[j] == ch:
                        if j + 1 < n and expr[j + 1] == ch:
                            j += 2  # doubled quote stays inside
                            continue
                        break
                    j += 1
                out.append(expr[i : min(j + 1, n)])
                i = j + 1
                continue
            if ch == "`":
                # backtick-quoted identifier (`` escapes a literal
                # backtick): an alias is an alias however it's quoted,
                # so `s`.id rewrites like s.id — r11 ADVICE
                j = i + 1
                content: list[str] = []
                while j < n:
                    if expr[j] == "`":
                        if j + 1 < n and expr[j + 1] == "`":
                            content.append("`")
                            j += 2
                            continue
                        break
                    content.append(expr[j])
                    j += 1
                canon = _canon("".join(content), i, j + 1)
                if canon is not None:
                    out.append(canon)
                    i = j + 2  # past closing backtick and the dot
                    continue
                out.append(expr[i : min(j + 1, n)])
                i = j + 1
                continue
            m = re.match(r"\w+", expr[i:])
            if m:
                word = m.group(0)
                j = i + len(word)
                canon = _canon(word, i, j)
                if canon is not None:
                    out.append(canon)
                    i = j + 1
                    continue
                out.append(word)
                i = j
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    on = _realias(m.group("on").strip())
    # target schema for SET * / INSERT * expansion
    if fmt == "delta":
        import json as _json

        from census_asc5_data_pipeline_spark.sources import delta_io as d

        _p, meta, _a, _t = d._replay(spark, path, None)
        tgt_cols = [
            f["name"]
            for f in _json.loads(meta["schemaString"])["fields"]
        ]
    else:
        from census_asc5_data_pipeline_spark.sources import (
            iceberg_io as ice,
        )

        _v, imeta = ice._current_metadata(path)
        _sch, ifields = ice._schema_of(imeta)
        tgt_cols = [f["name"] for f in ifields]
    if evolve_schema:
        tgt_cols = tgt_cols + [
            c for c in source.columns if c not in tgt_cols
        ]
    star_extra = [c for c in source.columns if c not in tgt_cols]
    matched: list[MatchedClause] = []
    nmbs: list[MatchedClause] = []
    not_matched: list[tuple] = []
    for wm in _WHEN_RE.finditer(m.group("clauses")):
        cond = wm.group("cond")
        cond = _realias(cond.strip()) if cond else None
        act = wm.group("act").strip()
        up = act.upper()
        by = (wm.group("by") or "").upper()
        if wm.group("not") and by == "SOURCE":
            # delta-spark extension: act on TARGET rows with no
            # source match (expressions may reference t.* only)
            if up.startswith("DELETE"):
                nmbs.append(("delete", cond))
            elif up.startswith("UPDATE"):
                body = re.sub(
                    r"^UPDATE\s+SET\s+", "", act, flags=re.IGNORECASE
                ).strip()
                if body == "*":
                    raise ValueError(
                        "UPDATE SET * is meaningless in WHEN NOT "
                        "MATCHED BY SOURCE (no source row)"
                    )
                sets = {}
                for item in _split_top(body):
                    k, _, v = item.partition("=")
                    col = re.sub(
                        rf"^{re.escape(talias)}\.",
                        "",
                        k.strip(),
                        flags=re.IGNORECASE,
                    )
                    sets[col] = _realias(v.strip())
                nmbs.append(("update", cond, sets))
            else:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE"
                )
            continue
        if wm.group("not"):
            if not up.startswith("INSERT"):
                raise ValueError(
                    "WHEN NOT MATCHED supports only INSERT"
                )
            body = act[len("INSERT"):].strip()
            if body == "*":
                if star_extra:
                    raise ValueError(
                        f"INSERT *: source column(s) {star_extra} are "
                        "not in the target schema — pass "
                        "evolve_schema=True to add them"
                    )
                not_matched.append(
                    (cond, {c: f"s.{c}" for c in tgt_cols})
                )
            else:
                bm = re.match(
                    r"^\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)$",
                    body,
                    re.IGNORECASE | re.DOTALL,
                )
                if not bm:
                    raise ValueError(
                        f"cannot parse INSERT clause: {act!r}"
                    )
                cols = [c.strip() for c in bm.group("cols").split(",")]
                vals = _split_top(bm.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError(
                        "INSERT column/value count mismatch"
                    )
                not_matched.append(
                    (cond, {c: _realias(v) for c, v in zip(cols, vals)})
                )
        elif up.startswith("DELETE"):
            matched.append(("delete", cond))
        elif up.startswith("UPDATE"):
            body = re.sub(
                r"^UPDATE\s+SET\s+", "", act, flags=re.IGNORECASE
            ).strip()
            if body == "*":
                if star_extra:
                    raise ValueError(
                        f"UPDATE SET *: source column(s) {star_extra} "
                        "are not in the target schema — pass "
                        "evolve_schema=True to add them"
                    )
                sets = {c: f"s.{c}" for c in tgt_cols}
            else:
                sets = {}
                for item in _split_top(body):
                    k, _, v = item.partition("=")
                    col = k.strip()
                    col = re.sub(
                        rf"^{re.escape(talias)}\.",
                        "",
                        col,
                        flags=re.IGNORECASE,
                    )
                    sets[col] = _realias(v.strip())
            matched.append(("update", cond, sets))
        else:
            raise ValueError(f"cannot parse WHEN clause action {act!r}")
    return merge_into(
        spark,
        fmt,
        path,
        source,
        on,
        matched,
        not_matched or None,
        not_matched_by_source=nmbs,
        evolve_schema=evolve_schema,
    )


def update_where(
    spark: SparkSession,
    fmt: str,
    path: str,
    predicate: str,
    sets: dict[str, str],
    mode: str = "cow",
    branch: str | None = None,
) -> int | None:
    """Row-level ``UPDATE <table> SET ... WHERE <predicate>`` — the
    third DML verb beside ``delete_*_where`` and :func:`merge_into`,
    and a DELETE with a post-image: each format runs both through one
    row-level path. ``predicate`` and the SET expressions are Spark
    SQL over the table's columns (no aliases; there is no source
    relation).

    - **Delta** (``delta_io._row_level_delta``, after the SET,
      generated-column and identity checks): ``mode='cow'`` rewrites
      the files holding matches with the SET applied (files whose
      stats prove no match are never read); ``mode='dv'``
      (delta-spark's DV-era UPDATE shape) DV-retires the old positions
      and appends the updated rows as new files in the SAME commit —
      O(matched rows), no file rewrite. With CDF on, both modes stage
      update_preimage/update_postimage rows.
    - **Iceberg** (``iceberg_io._commit_row_level``): merge-on-read —
      ONE snapshot retiring the matched rows (parquet position deletes
      on v2, deletion vectors on v3) and adding their updated images
      as new data files; v3 images keep their ``_row_id``.

    Returns the committed version/snapshot id, or None when nothing
    matched."""
    if branch is not None and fmt != "iceberg":
        raise ValueError(
            "branch writes are an Iceberg refs feature — Delta has "
            "no branch refs"
        )
    if fmt == "delta":
        return _update_delta(spark, path, predicate, sets, mode)
    if fmt == "iceberg":
        if mode != "cow":
            raise ValueError("iceberg UPDATE is always merge-on-read")
        return _update_iceberg(spark, path, predicate, sets, branch=branch)
    raise ValueError(f"unsupported format {fmt!r} (delta|iceberg)")


def _set_cols(sets, fields, pred=None):
    """Per-column projection applying SET where ``pred`` holds (or
    unconditionally when pred is None)."""
    cols = []
    for f in fields:
        if f.name in sets:
            e = F.expr(sets[f.name]).cast(f.dataType)
            if pred is not None:
                e = F.when(pred, e).otherwise(F.col(f.name))
            cols.append(e.alias(f.name))
        else:
            cols.append(F.col(f.name))
    return cols


def _update_delta(spark, path, predicate, sets, mode) -> int | None:
    from census_asc5_data_pipeline_spark.sources import delta_io as d

    def image(meta, schema):
        # the SET checks run against the replayed table, before any scan
        _refuse_sets(meta, sets)
        for c in sets:
            if c not in schema.fieldNames():
                raise ValueError(
                    f"SET column {c!r} not in the table schema"
                )
        gens = d._generated_columns(meta)
        return lambda frame, pred, extra: d._regenerate(
            frame.select(_set_cols(sets, schema.fields, pred) + extra),
            meta,
            gens,
        )

    return d._row_level_delta(spark, path, predicate, mode, image)


def _update_iceberg(spark, path, predicate, sets, branch=None) -> int | None:
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    cur_v, meta = ice._current_metadata(path)
    # v3 UPDATE preserves lineage and materializes defaults (r16):
    # see _merge_iceberg
    fv = ice._format_version_gate(
        meta, "UPDATE", write=True, v3_write_ok=True, defaults_ok=True,
    )
    schema, fields = ice._schema_of(meta)
    for c in sets:
        if c not in schema.fieldNames():
            raise ValueError(f"SET column {c!r} not in the table schema")
    cand, delete_fs = ice._dml_candidates(
        spark, path, meta, fields, predicate, branch
    )
    if not cand:
        return None
    scan, abs_of_base = ice._row_level_scan(
        spark, schema, fields, cand, delete_fs, fv, lineage=fv >= 3
    )
    # statement-scoped matched persist (r17): the matched rows feed
    # the position staging, the updated-image staging and the
    # required-field validation — each a separate action that re-ran
    # the full delete-aware/lineage scan on an uncached frame.
    # Bounded by the predicate's match count; released in the finally.
    matched = scan.filter(
        F.coalesce(F.expr(predicate), F.lit(False))
    ).persist()
    try:
        return ice._commit_row_level(
            path, cur_v, meta, "UPDATE",
            ice._positions(spark, matched, abs_of_base, fv),
            matched.select(
                _set_cols(sets, schema.fields)
                # updated rows keep their identity; the dropped null
                # _last_updated_sequence_number inherits the new
                # file's sequence number on read
                + ([F.col("_row_id")] if fv >= 3 else [])
            ),
            branch=branch, existing_deletes=delete_fs,
        )
    finally:
        matched.unpersist()


_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>[\w.]+)\s+SET\s+(?P<rest>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE_RE = re.compile(r"WHERE\b", re.IGNORECASE)


def _split_where(text: str) -> tuple[str, str | None]:
    """``text`` split at its first top-level ``WHERE`` keyword —
    outside quoted strings, backticked identifiers and parentheses —
    as (head, predicate), or (text, None) when there is none."""
    for i, _ch, depth in _top_level(text):
        if (
            not depth
            and _WHERE_RE.match(text, i)
            and not (i and (text[i - 1].isalnum() or text[i - 1] == "_"))
        ):
            return text[:i].strip(), text[i + len("WHERE"):].strip()
    return text, None
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:(?P<into>INTO)|(?P<over>OVERWRITE))\s+"
    r"(?:TABLE\s+)?(?P<target>[\w.]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<body>(?:SELECT|VALUES)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<target>[\w.]+)\s*(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TAIL_RE = re.compile(
    r"^USING\s+(?P<fmt>\w+)\s*"
    # one paren-nesting level inside PARTITIONED BY: transform
    # entries like bucket(4, id)
    r"(?:PARTITIONED\s+BY\s*\((?P<pby>(?:[^()]|\([^()]*\))*)\)\s*)?"
    # liquid clustering (r16, Delta only — mutually exclusive with
    # PARTITIONED BY, enforced by the writer)
    r"(?:CLUSTER\s+BY\s*\((?P<cby>[^)]*)\)\s*)?"
    # TBLPROPERTIES accepted on either side of LOCATION (Spark's
    # grammar permits both orders)
    r"(?:TBLPROPERTIES\s*\((?P<props1>[^)]*)\)\s*)?"
    r"(?:LOCATION\s+'(?P<loc>[^']+)'\s*)?"
    r"(?:TBLPROPERTIES\s*\((?P<props2>[^)]*)\)\s*)?"
    r"(?:AS\s+(?P<body>SELECT\b.*))?$",
    re.IGNORECASE | re.DOTALL,
)


def _create_table(
    spark: SparkSession,
    sql_text: str,
    catalog: dict[str, tuple[str, str]],
) -> int | None:
    """``CREATE TABLE [IF NOT EXISTS] t (col TYPE, ...) USING
    delta|iceberg [PARTITIONED BY (...)] LOCATION '<path>'`` — plus
    the CTAS form (``... USING fmt [PARTITIONED BY ...] LOCATION
    '<path>' AS SELECT ...``). The column list parses through Spark's
    own DDL parser; PARTITIONED BY accepts the writers' vocabulary
    (identity columns, and for Iceberg bucket/truncate/year/month/day
    transforms). An empty CREATE commits version/snapshot 0 carrying
    only the schema (zero data files); CTAS writes the query result.
    The created table is registered into ``catalog`` under its name
    so subsequent DML statements in the same session resolve it.
    LOCATION is required (this engine is path-addressed — there is no
    warehouse root). Returns the committed version/snapshot id, or
    None when IF NOT EXISTS found an existing table."""
    cm = _CLONE_RE.match(sql_text)
    if cm:
        # CREATE TABLE t [SHALLOW|DEEP] CLONE s (delta-spark's clone
        # DDL, r13) — metadata-only (shallow, the default spelling
        # includes the keyword) or file-copying (deep); optional
        # VERSION/TIMESTAMP AS OF clones a historical state
        from census_asc5_data_pipeline_spark.sources.delta_io import (
            clone_delta,
        )

        src_name = cm.group("src")
        if src_name not in catalog:
            raise ValueError(
                f"CLONE source {src_name!r} not in catalog "
                f"(have {sorted(catalog)})"
            )
        sfmt, spath = catalog[src_name]
        if sfmt != "delta":
            raise ValueError(
                "CLONE is a Delta verb in this engine — source "
                f"{src_name!r} is {sfmt}"
            )
        dpath = cm.group("loc")
        exists = os.path.isdir(os.path.join(dpath, "_delta_log"))
        if exists and cm.group("ine"):
            catalog[cm.group("target")] = ("delta", dpath)
            return None
        ver = cm.group("ver")
        ts = cm.group("ts")
        ts_ms = None
        if ts is not None:
            import datetime as _dt

            ts_ms = int(
                _dt.datetime.fromisoformat(
                    ts.replace("Z", "+00:00")
                ).timestamp()
                * 1000
            ) if not ts.isdigit() else int(ts)
        v = clone_delta(
            spark,
            spath,
            dpath,
            shallow=(cm.group("kind") or "SHALLOW").upper()
            != "DEEP",
            version=int(ver) if ver is not None else None,
            timestamp_ms=ts_ms,
        )
        catalog[cm.group("target")] = ("delta", dpath)
        return v
    m = _CREATE_RE.match(sql_text)
    if not m:
        raise ValueError(f"cannot parse CREATE TABLE: {sql_text!r}")
    name = m.group("target")
    rest = m.group("rest").strip()
    cols_ddl = None
    if rest.startswith("("):
        # balanced extraction: column defs may nest parens (DECIMAL(10,2))
        depth = 0
        for j, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise ValueError("unbalanced parentheses in column list")
        cols_ddl = rest[1:j]
        rest = rest[j + 1 :].strip()
    tm = _CREATE_TAIL_RE.match(rest)
    if not tm:
        raise ValueError(
            f"cannot parse CREATE TABLE tail: {rest!r} (supported: "
            "USING delta|iceberg [PARTITIONED BY (...)] LOCATION "
            "'<path>' [AS SELECT ...])"
        )
    fmt = tm.group("fmt").lower()
    if fmt not in ("delta", "iceberg"):
        raise ValueError(f"unsupported format {fmt!r} (delta|iceberg)")
    path = tm.group("loc")
    if not path:
        raise ValueError(
            "CREATE TABLE requires LOCATION '<path>' — this engine is "
            "path-addressed (no warehouse root)"
        )
    body = tm.group("body")
    if cols_ddl is not None and body is not None:
        raise ValueError("pass a column list OR AS SELECT, not both")
    if cols_ddl is None and body is None:
        raise ValueError("CREATE TABLE needs a column list or AS SELECT")
    pby = [
        p.strip()
        for p in _split_top(tm.group("pby") or "")
        if p.strip()
    ]
    cby = [
        c.strip()
        for c in (tm.group("cby") or "").split(",")
        if c.strip()
    ]
    if cby and fmt != "delta":
        raise ValueError(
            "CLUSTER BY is Delta liquid clustering in this engine — "
            "use WRITE ORDERED BY (sort orders) for Iceberg"
        )
    exists = (
        os.path.isdir(os.path.join(path, "_delta_log"))
        if fmt == "delta"
        else os.path.isdir(os.path.join(path, "metadata"))
    )
    if exists:
        if m.group("ine"):
            catalog[name] = (fmt, path)
            return None
        raise ValueError(f"table at {path!r} already exists")
    props_raw = tm.group("props1") or tm.group("props2")
    props = _parse_props(props_raw) if props_raw else {}
    ident_meta: dict[str, dict] = {}
    if cols_ddl is not None:
        cols_ddl, ident_meta = _extract_identity(cols_ddl)
        if ident_meta and fmt != "delta":
            raise ValueError(
                "GENERATED … AS IDENTITY is a Delta feature "
                "(delta.identity.* column metadata)"
            )
    if body is not None:
        df = spark.sql(body)
    else:
        schema = T.StructType.fromDDL(cols_ddl)
        if ident_meta:
            schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        ident_meta.get(f.name, f.metadata),
                    )
                    for f in schema.fields
                ]
            )
            for icol in ident_meta:
                if not isinstance(
                    schema[icol].dataType, (T.LongType, T.IntegerType)
                ):
                    raise ValueError(
                        f"identity column {icol!r} must be BIGINT or "
                        f"INT, not {schema[icol].dataType.simpleString()}"
                    )
        df = spark.createDataFrame([], schema)
    if fmt == "delta":
        from census_asc5_data_pipeline_spark.sources.delta_io import (
            write_delta,
        )

        # configuration lands IN the version-0 metaData — CDF,
        # column mapping, appendOnly, constraints are live from the
        # very first commit (round-12 #4)
        v = write_delta(
            df, path, partition_by=pby or None,
            configuration=props or None,
            cluster_by=cby or None,
        )
    else:
        from census_asc5_data_pipeline_spark.sources.iceberg_io import (
            set_iceberg_properties,
            write_iceberg,
        )

        v = write_iceberg(df, path, partition_by=pby or None)
        if props:
            # iceberg properties are a metadata-only follow-up commit
            # (nothing in the staging path depends on them)
            set_iceberg_properties(path, props)
    catalog[name] = (fmt, path)
    return v


def _insert_into(spark, fmt, path, cols_clause, body, mode="append") -> int:
    """``INSERT INTO|OVERWRITE t [(cols)] SELECT ...|VALUES ...`` —
    the fourth DML verb (round-11): the body evaluates as a Spark SQL
    query, maps POSITIONALLY onto the named columns (or the full
    target schema), fills unnamed target columns with NULL, casts to
    the target types, and appends (INTO) or replaces (OVERWRITE)
    through the native writer in one commit/snapshot."""
    if fmt == "delta":
        import json as _json

        from census_asc5_data_pipeline_spark.sources import delta_io as d

        _p, meta, _a, _t = d._replay(spark, path, None)
        schema = d._strip_meta(
            T.StructType.fromJson(_json.loads(meta["schemaString"]))
        )
    else:
        from census_asc5_data_pipeline_spark.sources import (
            iceberg_io as ice,
        )

        _v, imeta = ice._current_metadata(path)
        schema, _ifields = ice._schema_of(imeta)
    df = spark.sql(body)
    if cols_clause:
        names = [c.strip() for c in cols_clause.split(",")]
        unknown = [n for n in names if n not in schema.fieldNames()]
        if unknown:
            raise ValueError(
                f"INSERT column(s) {unknown} not in the table schema"
            )
    else:
        names = schema.fieldNames()
    if len(df.columns) != len(names):
        raise ValueError(
            f"INSERT provides {len(df.columns)} column(s) for "
            f"{len(names)} target column(s)"
        )
    by_target = dict(zip(names, df.columns))
    gen_unnamed: set[str] = set()
    if fmt == "delta":
        # generated/identity columns the INSERT does not name are
        # left OUT of the frame (not NULL-filled) so write_delta
        # COMPUTES/ALLOCATES them; named ones validate (generated) or
        # ratchet the high water mark (identity, BY DEFAULT only)
        gen_unnamed = (
            {n for n, _e, _t in d._generated_columns(meta)}
            | {
                n
                for n, _d, _s, _st, _h, _a in d._identity_columns(
                    meta
                )
            }
        ) - set(by_target)
    out = df.select(
        [
            F.col(by_target[f.name]).cast(f.dataType).alias(f.name)
            if f.name in by_target
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
            if f.name not in gen_unnamed
        ]
    )
    if fmt == "delta":
        from census_asc5_data_pipeline_spark.sources.delta_io import (
            write_delta,
        )

        return write_delta(out, path, mode=mode)
    from census_asc5_data_pipeline_spark.sources.iceberg_io import (
        write_iceberg,
    )

    return write_iceberg(out, path, mode=mode)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<pred>.*?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.]+)\s+(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_COLS_RE = re.compile(
    r"^ADD\s+COLUMNS?\s*(?:\((?P<pcols>(?:[^()]|\([^()]*\))*)\)"
    r"|(?P<bcols>.+?))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SET_PROPS_RE = re.compile(
    r"^SET\s+TBLPROPERTIES\s*\((?P<props>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNSET_PROPS_RE = re.compile(
    r"^UNSET\s+TBLPROPERTIES\s*\((?P<keys>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_INTO_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<target>[\w.]+)\s+"
    r"FROM\s+'(?P<src>[^']+)'\s+"
    r"FILEFORMAT\s*=\s*(?P<fmt>PARQUET|CSV|JSON)"
    r"(?:\s+PATTERN\s*=\s*'(?P<pattern>[^']+)')?"
    r"(?:\s+FORMAT_OPTIONS\s*\(\s*(?P<fopts>[^)]*)\)\s*)?"
    r"(?:\s+COPY_OPTIONS\s*\(\s*(?P<copts>[^)]*)\)\s*)?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def copy_into(
    spark: SparkSession,
    path: str,
    src: str,
    fileformat: str,
    pattern: str | None = None,
    format_options: dict[str, str] | None = None,
    force: bool = False,
) -> int | None:
    """delta-spark's ``COPY INTO`` (r13): IDEMPOTENT bulk file
    loading — each run lists the files under ``src`` (``pattern`` is
    an fnmatch glob over the src-relative path), subtracts every file
    a prior COPY INTO commit already recorded, reads only the NEW
    ones with the table's schema, and appends them in one commit
    whose commitInfo carries the loaded-file list — the commit log IS
    the idempotency ledger, so re-running after a crash or on a
    schedule never double-loads (``force=True`` reloads everything).
    Returns the committed version, or None when there is nothing new.

    Durability (r13 ADVICE): checkpoints don't retain commitInfo and
    ``vacuum_delta`` prunes log JSONs below the latest checkpoint, so
    the log alone forgets old loads.  Every successful COPY INTO also
    folds the full loaded-file set into a sidecar ledger
    (``_delta_log/_copy_into_ledger.json``, atomic-rename write) that
    vacuum never touches; the replay below takes the UNION of ledger
    + surviving commitInfo lines, so a crash between commit and
    ledger write self-heals on the next run from the still-unpruned
    log JSON.

    Scale notes: the ledger replay is O(commits) driver-side metadata
    (the describe_history loop); the data read is one multi-path
    Spark scan over exactly the new files."""
    import fnmatch
    import glob as _glob
    import json

    from census_asc5_data_pipeline_spark.sources import delta_io as d

    fileformat = fileformat.lower()
    if fileformat not in ("parquet", "csv", "json"):
        raise ValueError(
            f"FILEFORMAT {fileformat!r} (parquet|csv|json)"
        )
    _p, meta, _adds, _tx = d._replay(spark, path, None)
    d._writer_gate(_p, meta, "WRITE")
    schema = d._strip_meta(
        T.StructType.fromJson(json.loads(meta["schemaString"]))
    )
    ledger_fp = os.path.join(path, "_delta_log", "_copy_into_ledger.json")
    loaded: set[str] = set()
    try:
        with open(ledger_fp) as fh:
            prior = json.load(fh).get("files", [])
        if isinstance(prior, list):
            loaded.update(str(p) for p in prior)
    except (OSError, ValueError, TypeError):
        pass
    for v in d.delta_versions(path):
        for action in d._commit_actions(path, v):
            ci = action.get("commitInfo")
            if ci is None:
                continue
            if ci.get("operation") == "COPY INTO":
                try:
                    loaded.update(
                        json.loads(
                            (ci.get("operationParameters") or {})
                            .get("files", "[]")
                        )
                    )
                except (TypeError, ValueError):
                    pass
            break
    src = os.path.abspath(src)
    cands = sorted(
        p
        for p in _glob.glob(os.path.join(src, "**"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "_"))
        and (
            pattern is None
            or fnmatch.fnmatch(os.path.relpath(p, src), pattern)
        )
    )
    new = [
        p
        for p in cands
        if force or os.path.abspath(p) not in loaded
    ]
    if not new:
        return None
    reader = spark.read.format(fileformat)
    for k, v in (format_options or {}).items():
        reader = reader.option(k, v)
    if fileformat in ("csv", "json"):
        reader = reader.schema(schema)
    df = reader.load(new)
    out = df.select(
        [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    version = d.write_delta(
        out,
        path,
        commit_operation="COPY INTO",
        commit_params={
            "files": json.dumps(
                sorted(os.path.abspath(p) for p in new)
            ),
            "source": src,
            "fileformat": fileformat,
        },
    )
    # fold the union into the vacuum-proof sidecar ledger; a failure
    # here is safe — the just-committed JSON still carries the list
    # and the next run re-merges it
    try:
        tmp = f"{ledger_fp}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "files": sorted(
                        loaded | {os.path.abspath(p) for p in new}
                    )
                },
                fh,
            )
        os.replace(tmp, ledger_fp)
    except OSError:
        pass
    return version


_WRITE_ORDERED_RE = re.compile(
    r"^WRITE\s+(?:(?P<unordered>UNORDERED)"
    r"|ORDERED\s+BY\s*\(\s*(?P<cols>.+?)\s*\))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PARTITION_FIELD_RE = re.compile(
    r"^(?P<verb>ADD|DROP)\s+PARTITION\s+FIELD\s+(?P<field>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RENAME_COL_RE = re.compile(
    r"^RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*$",
    re.IGNORECASE,
)
_DROP_COLS_RE = re.compile(
    r"^DROP\s+COLUMNS?\s*(?:\((?P<pcols>[^)]*)\)|(?P<bcols>[\w,\s]+?))\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<target>[\w.]+)"
    r"(?:\s+ZORDER\s+BY\s*\(?(?P<zcols>[\w.,\s]*?)\)?)?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<target>[\w.]+)"
    r"(?:\s+RETAIN\s+(?P<keep>\d+)\s+(?P<unit>VERSIONS|HOURS))?\s*$",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"^\s*CALL\s+(?:[\w]+\.)*(?P<proc>\w+)\s*\((?P<args>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?(?P<target>[\w.]+)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>\d+|'[^']*'))\s*$",
    re.IGNORECASE,
)
_PROP_PAIR_RE = re.compile(r"'(?P<k>(?:[^'\\]|\\.)*)'\s*=\s*'(?P<v>(?:[^'\\]|\\.)*)'")


_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<target>[\w.]+)\s+(?:(?P<kind>SHALLOW|DEEP)\s+)?CLONE\s+"
    r"(?P<src>[\w.]+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')?"
    r"\s+LOCATION\s+'(?P<loc>[^']+)'\s*$",
    re.IGNORECASE,
)

_IDENTITY_CLAUSE_RE = re.compile(
    r"\s+GENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
    r"(?:\s*\(\s*(?:START\s+WITH\s+(-?\d+)\s*)?"
    r"(?:INCREMENT\s+BY\s+(-?\d+)\s*)?\))?",
    re.IGNORECASE,
)


def _extract_identity(
    cols_ddl: str,
) -> tuple[str, dict[str, dict]]:
    """Pre-parse ``col BIGINT GENERATED ALWAYS|BY DEFAULT AS IDENTITY
    [(START WITH n [INCREMENT BY k])]`` out of the CREATE column list
    (delta-spark's identity DDL; Spark's own DDL parser doesn't know
    the clause) → (cleaned ddl, {col: delta.identity.* metadata}).
    ALWAYS refuses explicit inserts; BY DEFAULT accepts them and
    ratchets the high water mark (delta_io._apply_identity)."""
    out_cols: list[str] = []
    meta: dict[str, dict] = {}
    for chunk in _split_top(cols_ddl):
        m = _IDENTITY_CLAUSE_RE.search(chunk)
        if not m:
            out_cols.append(chunk)
            continue
        cleaned = (
            chunk[: m.start()] + chunk[m.end() :]
        ).strip()
        name = cleaned.split()[0].strip("`")
        step = int(m.group(3) or 1)
        if step == 0:
            raise ValueError(
                f"identity column {name!r}: INCREMENT BY 0"
            )
        meta[name] = {
            "delta.identity.start": int(m.group(2) or 1),
            "delta.identity.step": step,
            "delta.identity.allowExplicitInsert": (
                m.group(1).upper() != "ALWAYS"
            ),
        }
        out_cols.append(cleaned)
    return ", ".join(c.strip() for c in out_cols), meta


def _parse_props(text: str) -> dict[str, str]:
    """TBLPROPERTIES body: 'k'='v' [, ...] — quoted keys and values
    only (the Spark SQL surface); anything unquoted raises."""
    pairs = dict(
        (m.group("k"), m.group("v"))
        for m in _PROP_PAIR_RE.finditer(text)
    )
    leftover = _PROP_PAIR_RE.sub("", text).replace(",", "").strip()
    if leftover or not pairs:
        raise ValueError(
            f"cannot parse TBLPROPERTIES body {text!r} "
            "(expected 'key'='value', ...)"
        )
    return pairs


_TT_SUFFIX = (
    r"(?:"
    r"\s+FOR\s+SYSTEM_VERSION\s+AS\s+OF\s+(?P<sv>\d+|'[^']*')"
    r"|\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<st>\d+|'[^']*')"
    r"|\s+VERSION\s+AS\s+OF\s+(?P<v>\d+|'[^']*')"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<t>\d+|'[^']*')"
    r")?"
)


def _view_cycle_check(
    name: str,
    catalog: dict[str, tuple[str, str]],
    _stack: tuple = (),
) -> None:
    """Refuse view definitions whose reference graph cycles — a pure
    textual DFS BEFORE any evaluation, because evaluation re-enters
    :func:`query_sql` with a fresh stack."""
    if name in _stack:
        raise ValueError(
            f"view {name!r} participates in a reference cycle "
            f"({' -> '.join(_stack + (name,))})"
        )
    body = catalog[name][1]
    for vname, entry in list(catalog.items()):
        if entry[0] == "view" and re.search(
            rf"\b{re.escape(vname)}\b", body, re.IGNORECASE
        ):
            _view_cycle_check(vname, catalog, _stack + (name,))


def _expand_view(
    spark: SparkSession,
    name: str,
    catalog: dict[str, tuple[str, str]],
) -> None:
    """Evaluate a stored CREATE VIEW definition and register it as a
    temp view under its own name (recursive — a view may reference
    other views/tables; cycles refuse up front)."""
    _view_cycle_check(name, catalog)
    query_sql(spark, catalog[name][1], catalog).createOrReplaceTempView(
        name
    )


_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+"
    r"(?P<name>[\w.]+)\s+AS\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+(?P<kind>TABLE|VIEW)\s+(?P<ine>IF\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*(?P<purge>PURGE)?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:(?P<kind>HISTORY|DETAIL|TABLE)\s+)?"
    r"(?P<target>[\w.]+)\s*$",
    re.IGNORECASE,
)


def _show_create_table(
    spark: SparkSession,
    name: str,
    catalog: dict[str, tuple[str, str]],
):
    """``SHOW CREATE TABLE t`` (r14): reconstruct a runnable
    :func:`dml_sql` CREATE statement from the live metadata — column
    list with NOT NULL, PARTITIONED BY (Iceberg specs render their
    transforms back to the DDL vocabulary), LOCATION, TBLPROPERTIES.
    Views render their stored definition."""
    import json as _json

    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    if name not in catalog:
        raise ValueError(
            f"table {name!r} not in catalog (have {sorted(catalog)})"
        )
    fmt, path = catalog[name]
    if fmt == "view":
        stmt = f"CREATE VIEW {name} AS {path}"
        return spark.createDataFrame(
            [(stmt,)], "createtab_stmt string"
        )
    if fmt == "delta":
        _p, meta, _adds, _tx = d._replay(spark, path, None)
        schema = T.StructType.fromJson(
            _json.loads(meta["schemaString"])
        )
        cols = [
            f"{f.name} {f.dataType.simpleString().upper()}"
            + ("" if f.nullable else " NOT NULL")
            for f in schema.fields
        ]
        pby = list(meta.get("partitionColumns") or [])
        props = dict(meta.get("configuration") or {})
    else:
        _v, meta = ice._current_metadata(path)
        _sch, fields = ice._schema_of(meta, allow_renames=True)
        by_id = {f["id"]: f for f in fields}
        cols = [
            f"{f['name']} {str(f['type']).upper()}"
            + (" NOT NULL" if f.get("required") else "")
            for f in fields
        ]
        spec = ice._default_spec(meta)
        pby = []
        for pf in spec.get("fields", []):
            src = by_id.get(pf["source-id"], {}).get(
                "name", pf["name"]
            )
            tr = pf.get("transform", "identity")
            if tr == "identity":
                pby.append(src)
            elif tr.startswith("bucket["):
                pby.append(f"bucket({tr[7:-1]}, {src})")
            elif tr.startswith("truncate["):
                pby.append(f"truncate({tr[9:-1]}, {src})")
            elif tr != "void":
                pby.append(f"{tr}({src})")
        props = dict(meta.get("properties") or {})
    stmt = f"CREATE TABLE {name} (\n  " + ",\n  ".join(cols) + "\n)"
    stmt += f"\nUSING {fmt}"
    if pby:
        stmt += f"\nPARTITIONED BY ({', '.join(pby)})"
    stmt += f"\nLOCATION '{os.path.abspath(path)}'"
    if props:
        kv = ", ".join(
            f"'{k}'='{v}'" for k, v in sorted(props.items())
        )
        stmt += f"\nTBLPROPERTIES ({kv})"
    return spark.createDataFrame([(stmt,)], "createtab_stmt string")


def _describe_sql(
    spark: SparkSession,
    text: str,
    catalog: dict[str, tuple[str, str]],
):
    """DESCRIBE [TABLE] / DESCRIBE HISTORY / DESCRIBE DETAIL over the
    statement catalog (r14)."""
    import json as _json

    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice

    m = _DESCRIBE_RE.match(text)
    if not m:
        raise ValueError(f"cannot parse DESCRIBE statement: {text!r}")
    name = m.group("target")
    if name not in catalog:
        raise ValueError(
            f"table {name!r} not in catalog (have {sorted(catalog)})"
        )
    fmt, path = catalog[name]
    kind = (m.group("kind") or "TABLE").upper()
    if fmt == "view":
        if kind != "TABLE":
            raise ValueError(f"{name!r} is a view — DESCRIBE {name} only")
        _expand_view(spark, name, catalog)
        df = spark.table(name)
        return spark.createDataFrame(
            [
                (f.name, f.dataType.simpleString(), f.nullable, False)
                for f in df.schema.fields
            ],
            "col_name string, data_type string, nullable boolean, "
            "is_partition boolean",
        )
    if kind == "HISTORY":
        if fmt == "delta":
            return d.describe_history(spark, path)
        return ice.read_iceberg_meta(spark, path, "history")
    if kind == "DETAIL":
        if fmt == "delta":
            return d.describe_detail(spark, path)
        cur_v, meta = ice._current_metadata(path)
        _sch, fields = ice._schema_of(meta, allow_renames=True)
        spec = ice._default_spec(meta)
        row = (
            "iceberg",
            str(meta.get("table-uuid") or ""),
            os.path.abspath(path),
            [f["name"] for f in spec.get("fields", [])],
            len(meta.get("snapshots", [])),
            int(meta.get("current-snapshot-id") or -1),
            {
                str(k): str(v)
                for k, v in (meta.get("properties") or {}).items()
            },
            int(meta.get("format-version", 1)),
        )
        return spark.createDataFrame(
            [row],
            "format string, id string, location string, "
            "partition_columns array<string>, num_snapshots bigint, "
            "current_snapshot_id bigint, properties map<string,string>, "
            "format_version int",
        )
    # DESCRIBE [TABLE]: columns + partition flags off the metadata
    if fmt == "delta":
        _p, meta, _adds, _tx = d._replay(spark, path, None)
        schema = T.StructType.fromJson(_json.loads(meta["schemaString"]))
        pcols = set(meta.get("partitionColumns") or [])
        rows = [
            (f.name, f.dataType.simpleString(), f.nullable, f.name in pcols)
            for f in schema.fields
        ]
    else:
        _v, meta = ice._current_metadata(path)
        _sch, fields = ice._schema_of(meta, allow_renames=True)
        by_id = {f["id"]: f for f in fields}
        psrc = {
            by_id[pf["source-id"]]["name"]
            for s in ice._partition_specs(meta)
            for pf in s.get("fields", [])
            if pf.get("transform", "identity") == "identity"
            and pf["source-id"] in by_id
        }
        rows = [
            (
                f["name"],
                str(f["type"]),
                not f.get("required", False),
                f["name"] in psrc,
            )
            for f in fields
        ]
    return spark.createDataFrame(
        rows,
        "col_name string, data_type string, nullable boolean, "
        "is_partition boolean",
    )


def query_sql(
    spark: SparkSession,
    sql: str,
    catalog: dict[str, tuple[str, str]],
):
    """The READ-side SQL router (round-13 verdict #4): run a SELECT
    over catalog tables with the time-travel clauses lakehouse users
    actually type —

    - ``SELECT ... FROM t VERSION AS OF 3`` (delta-spark / Spark SQL)
    - ``SELECT ... FROM t TIMESTAMP AS OF '2024-01-15 12:00:00'``
      (naive strings resolve in the session timezone, the
      delta-spark rule; integers are epoch millis)
    - ``FROM t FOR SYSTEM_VERSION AS OF <snapshot-id>`` /
      ``FOR SYSTEM_TIME AS OF ...`` (the Spark-Iceberg spelling)
    - ``VERSION AS OF 'branch_or_tag'`` — a QUOTED version resolves
      as an Iceberg ref name (Spark-Iceberg semantics), so the WAP
      audit step is plain SQL.

    Each time-traveled reference is resolved through the native
    readers (``read_delta(version=/timestamp_ms=)`` /
    ``read_iceberg(snapshot_id=/ref=)``), registered as an immutable
    temp view, and the statement is rewritten to read the view; bare
    catalog references register the CURRENT table under its own name.
    Returns the result DataFrame. (The statement front-end twin of
    :func:`dml_sql`, which keeps the write verbs.)

    Catalog introspection verbs (r14 — r13 verdict #6, the SQL
    surface users previously had to drop to Python for):
    ``SHOW TABLES [LIKE 'pat']`` (name/format/location over the
    catalog, views included), ``DESCRIBE [TABLE] t`` (columns +
    partition flags), ``DESCRIBE HISTORY t`` (Delta commit history /
    Iceberg snapshot-log), ``DESCRIBE DETAIL t`` (one-row state
    summary, both formats). ``CREATE VIEW`` definitions (stored in
    the catalog by :func:`dml_sql`) expand recursively on
    reference."""
    from census_asc5_data_pipeline_spark.sources import delta_io as d
    from census_asc5_data_pipeline_spark.sources import iceberg_io as ice
    from census_asc5_data_pipeline_spark.sources.delta_stream_source import (
        _parse_ts_ms,
    )

    text = sql.strip().rstrip(";")
    head = text.lstrip().split(None, 1)[0].upper() if text.strip() else ""
    if head == "SHOW":
        cm = re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<target>[\w.]+)\s*$",
            text,
            re.IGNORECASE,
        )
        if cm:
            return _show_create_table(
                spark, cm.group("target"), catalog
            )
        m = re.match(
            r"^\s*SHOW\s+TABLES\s*(?:LIKE\s+'(?P<pat>[^']*)')?\s*$",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse SHOW statement: {sql!r}")
        import fnmatch

        pat = m.group("pat")
        rows = [
            (n, fmt, "" if fmt == "view" else loc)
            for n, (fmt, loc) in sorted(catalog.items())
            if pat is None or fnmatch.fnmatch(n, pat)
        ]
        return spark.createDataFrame(
            rows, "table_name string, format string, location string"
        )
    if head in ("DESCRIBE", "DESC"):
        return _describe_sql(spark, text, catalog)
    for vname, entry in list(catalog.items()):
        if entry[0] == "view" and re.search(
            rf"\b{re.escape(vname)}\b", text, re.IGNORECASE
        ):
            _expand_view(spark, vname, catalog)

    def _ts_ms(tok: str) -> int:
        # naive strings resolve in the session timezone inside
        # _parse_ts_ms (it reads the active session)
        return _parse_ts_ms(tok[1:-1] if tok.startswith("'") else tok)

    for name, (fmt, path) in catalog.items():
        if fmt == "view":
            continue  # already registered by _expand_view above
        pat = re.compile(
            rf"\b{re.escape(name)}\b" + _TT_SUFFIX, re.IGNORECASE
        )

        def _repl(m, fmt=fmt, path=path, name=name):
            ver = m.group("sv") or m.group("v")
            ts = m.group("st") or m.group("t")
            if ver is None and ts is None:
                if fmt == "delta":
                    d.read_delta(spark, path).createOrReplaceTempView(name)
                else:
                    ice.read_iceberg(spark, path).createOrReplaceTempView(
                        name
                    )
                return name
            if ver is not None and ver.startswith("'"):
                if fmt != "iceberg":
                    raise ValueError(
                        f"VERSION AS OF {ver} on {name!r}: named "
                        "version refs are an Iceberg feature — Delta "
                        "versions are integers"
                    )
                ref = ver[1:-1]
                df = ice.read_iceberg(spark, path, ref=ref)
                vname = f"{name}__asof_ref_{re.sub(r'[^A-Za-z0-9_]', '_', ref)}"
            elif fmt == "delta":
                if ver is not None:
                    df = d.read_delta(spark, path, version=int(ver))
                    vname = f"{name}__asof_v{ver}"
                else:
                    ms = _ts_ms(ts)
                    df = d.read_delta(spark, path, timestamp_ms=ms)
                    vname = f"{name}__asof_t{ms}"
            else:
                if ver is not None:
                    df = ice.read_iceberg(
                        spark, path, snapshot_id=int(ver)
                    )
                    vname = f"{name}__asof_v{ver}"
                else:
                    ms = _ts_ms(ts)
                    sid = ice.snapshot_as_of_timestamp_iceberg(path, ms)
                    df = ice.read_iceberg(spark, path, snapshot_id=sid)
                    vname = f"{name}__asof_t{ms}"
            df.createOrReplaceTempView(vname)
            return vname

        text = pat.sub(_repl, text)
    return spark.sql(text)


def dml_sql(
    spark: SparkSession,
    sql: str,
    catalog: dict[str, tuple[str, str]],
) -> int | None:
    """One SQL entry point for the write-side verbs over both table
    formats: routes ``MERGE INTO`` to :func:`merge_into_sql`,
    ``INSERT INTO t [(cols)] SELECT ...|VALUES ...`` to the append
    writers (:func:`_insert_into`), ``UPDATE t SET ... [WHERE ...]``
    to :func:`update_where`, and ``DELETE FROM t [WHERE ...]`` to the
    native row-level deletes (:func:`delta_io.delete_delta_where` /
    :func:`iceberg_io.delete_iceberg_positions`). ``catalog`` maps
    table names to ``(format, path)``. Returns the committed
    version/snapshot id (None = no-op).

    Round-12 #4 completers: ``ALTER TABLE t ADD COLUMN(S) ...`` /
    ``ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)`` /
    ``OPTIMIZE t [ZORDER BY (c, ...)]`` / ``VACUUM t [RETAIN n
    VERSIONS | RETAIN n HOURS]`` (version-count retention stays the
    deterministic test surface; RETAIN n HOURS is delta-spark's
    time-based retention — r14 — resolving versions/snapshots by
    commit timestamp, boundary-at-cutoff retained), and CREATE TABLE
    takes a TBLPROPERTIES clause (see :func:`_create_table`)."""
    text = sql.strip().rstrip(";")
    head = text.lstrip().split(None, 1)[0].upper() if text.strip() else ""
    if head == "MERGE":
        return merge_into_sql(spark, text, catalog)
    if head == "CREATE":
        vm = _CREATE_VIEW_RE.match(text)
        if vm:
            name = vm.group("name")
            exists = catalog.get(name)
            if exists is not None and not vm.group("replace"):
                raise ValueError(
                    f"{name!r} already exists "
                    f"({exists[0]}) — use CREATE OR REPLACE VIEW"
                )
            if exists is not None and exists[0] != "view":
                raise ValueError(
                    f"cannot replace {exists[0]} table {name!r} with a "
                    "view"
                )
            body = vm.group("body").strip()
            catalog[name] = ("view", body)
            # validate eagerly (plan only, no job): a broken
            # definition should fail at CREATE, not first SELECT
            try:
                _expand_view(spark, name, catalog)
            except Exception:
                del catalog[name]
                raise
            return None
        return _create_table(spark, text, catalog)
    if head == "DROP":
        dm = _DROP_RE.match(text)
        if not dm:
            raise ValueError(f"cannot parse DROP statement: {sql!r}")
        name = dm.group("name")
        want_view = dm.group("kind").upper() == "VIEW"
        entry = catalog.get(name)
        if entry is None:
            if dm.group("ine"):
                return None
            raise ValueError(
                f"{'view' if want_view else 'table'} {name!r} not in "
                f"catalog (have {sorted(catalog)})"
            )
        is_view = entry[0] == "view"
        if is_view != want_view:
            raise ValueError(
                f"{name!r} is a {'view' if is_view else 'table'} — use "
                f"DROP {'VIEW' if is_view else 'TABLE'}"
            )
        del catalog[name]
        spark.catalog.dropTempView(name)
        if dm.group("purge"):
            if is_view:
                raise ValueError("PURGE applies to tables, not views")
            import shutil as _sh

            _sh.rmtree(entry[1], ignore_errors=True)
        return None
    if head == "COPY":
        cm = _COPY_INTO_RE.match(text)
        if not cm:
            raise ValueError(f"cannot parse COPY INTO: {sql!r}")
        name = cm.group("target")
        if name not in catalog:
            raise ValueError(
                f"table {name!r} not in catalog (have {sorted(catalog)})"
            )
        fmt, path = catalog[name]
        if fmt != "delta":
            raise ValueError(
                "COPY INTO is a Delta verb in this engine — "
                f"{name!r} is {fmt}"
            )
        copts = (
            _parse_props(cm.group("copts")) if cm.group("copts") else {}
        )
        return copy_into(
            spark,
            path,
            cm.group("src"),
            cm.group("fmt"),
            pattern=cm.group("pattern"),
            format_options=(
                _parse_props(cm.group("fopts"))
                if cm.group("fopts")
                else None
            ),
            force=str(copts.get("force", "")).lower() == "true",
        )

    def _resolve(name):
        if name not in catalog:
            raise ValueError(
                f"table {name!r} not in catalog (have {sorted(catalog)})"
            )
        if catalog[name][0] == "view":
            raise ValueError(
                f"{name!r} is a view — write verbs need a table"
            )
        return catalog[name]

    if head == "ALTER":
        m = _ALTER_RE.match(text)
        if not m:
            raise ValueError(f"cannot parse ALTER TABLE: {sql!r}")
        fmt, path = _resolve(m.group("target"))
        rest = m.group("rest").strip()
        am = _ADD_COLS_RE.match(rest)
        if am:
            cols = (am.group("pcols") or am.group("bcols")).strip()
            if fmt == "delta":
                from census_asc5_data_pipeline_spark.sources.delta_io import (
                    add_delta_columns,
                )

                return add_delta_columns(spark, path, cols)
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                add_iceberg_columns,
            )

            return add_iceberg_columns(path, cols)
        pm = _SET_PROPS_RE.match(rest)
        if pm:
            props = _parse_props(pm.group("props"))
            if fmt == "delta":
                from census_asc5_data_pipeline_spark.sources.delta_io import (
                    set_delta_properties,
                )

                return set_delta_properties(spark, path, props)
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                set_iceberg_properties,
            )

            return set_iceberg_properties(path, props)
        um = _UNSET_PROPS_RE.match(rest)
        if um:
            keys = re.findall(r"'((?:[^'\\]|\\.)*)'", um.group("keys"))
            if not keys:
                raise ValueError(
                    f"cannot parse UNSET TBLPROPERTIES keys "
                    f"{um.group('keys')!r}"
                )
            props = {k: None for k in keys}
            if fmt == "delta":
                from census_asc5_data_pipeline_spark.sources.delta_io import (
                    set_delta_properties,
                )

                return set_delta_properties(spark, path, props)
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                set_iceberg_properties,
            )

            return set_iceberg_properties(path, props)
        acm = re.match(
            r"^ADD\s+CONSTRAINT\s+(?P<name>\w+)\s+CHECK\s*"
            r"\((?P<expr>.+)\)\s*$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        dcm = re.match(
            r"^DROP\s+CONSTRAINT\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*$",
            rest,
            re.IGNORECASE,
        )
        if acm or dcm:
            # ALTER TABLE t ADD CONSTRAINT n CHECK (...) / DROP
            # CONSTRAINT n — delta-spark's CHECK-constraint DDL
            # (r16): sugar over the delta.constraints.* property
            # route, which validates existing rows on ADD
            if fmt != "delta":
                raise ValueError(
                    "CHECK constraints are a Delta feature "
                    "(delta.constraints.* table properties)"
                )
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                set_delta_properties,
            )

            if acm:
                return set_delta_properties(
                    spark,
                    path,
                    {
                        f"delta.constraints.{acm.group('name').lower()}":
                            acm.group("expr").strip()
                    },
                )
            return set_delta_properties(
                spark,
                path,
                {f"delta.constraints.{dcm.group('name').lower()}": None},
            )
        actm = re.match(
            r"^ALTER\s+COLUMN\s+(?P<col>\w+)\s+TYPE\s+"
            r"(?P<typ>[\w()\s,]+?)\s*$",
            rest,
            re.IGNORECASE,
        )
        if actm:
            # ALTER TABLE t ALTER COLUMN c TYPE <wider> — Delta type
            # widening WRITE (r16)
            if fmt != "delta":
                raise NotImplementedError(
                    "ALTER COLUMN TYPE is implemented for Delta "
                    "(type widening); Iceberg type promotion is out "
                    "of scope"
                )
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                alter_delta_column_type,
            )

            return alter_delta_column_type(
                spark, path, actm.group("col"), actm.group("typ")
            )
        cbm = re.match(
            r"^CLUSTER\s+BY\s*\((?P<cols>[^)]*)\)\s*$",
            rest,
            re.IGNORECASE,
        )
        if cbm:
            # ALTER TABLE t CLUSTER BY (c1, c2) — re-stamp the
            # delta.clustering domain (r16 liquid clustering WRITE)
            if fmt != "delta":
                raise ValueError(
                    "CLUSTER BY is Delta liquid clustering in this "
                    "engine — use WRITE ORDERED BY for Iceberg"
                )
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                set_clustering_columns,
            )

            cols = [
                c.strip()
                for c in cbm.group("cols").split(",")
                if c.strip()
            ]
            return set_clustering_columns(spark, path, cols)
        wom = _WRITE_ORDERED_RE.match(rest)
        if wom:
            # ALTER TABLE t WRITE ORDERED BY (c [ASC|DESC] [NULLS
            # FIRST|LAST], ...) | WRITE UNORDERED — the Spark-Iceberg
            # sort-order DDL (r13)
            if fmt != "iceberg":
                raise ValueError(
                    "WRITE ORDERED BY is an Iceberg sort-order "
                    "feature"
                )
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                update_sort_order,
            )

            if wom.group("unordered"):
                return update_sort_order(path, [])
            entries = [
                e.strip()
                for e in _split_top(wom.group("cols"))
                if e.strip()
            ]
            return update_sort_order(path, entries)
        pfm = _PARTITION_FIELD_RE.match(rest)
        if pfm:
            # ALTER TABLE t ADD|DROP PARTITION FIELD <transform> —
            # Spark-Iceberg's partition-evolution DDL (r13): compose
            # the default spec's entries +/- the named field and
            # register the result as a new default spec
            if fmt != "delta" and fmt != "iceberg":
                raise ValueError(f"unknown format {fmt!r}")
            if fmt == "delta":
                raise ValueError(
                    "partition evolution is an Iceberg feature — "
                    "Delta partitioning is fixed at creation"
                )
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                _current_metadata,
                _schema_of,
                partition_by_entries,
                update_partition_spec,
            )

            _v, imeta = _current_metadata(path)
            entries = partition_by_entries(imeta)
            token = pfm.group("field").strip()
            if pfm.group("verb").upper() == "ADD":
                entries = entries + [token]
            else:
                _s, ifields = _schema_of(imeta)
                from census_asc5_data_pipeline_spark.sources.iceberg_io import (  # noqa: E501
                    _parse_partition_by,
                )

                want = _parse_partition_by([token])[0]
                before = len(entries)
                kept_entries = []
                for e in entries:
                    p = _parse_partition_by([e])[0]
                    if (
                        p["transform"] == want["transform"]
                        and p["source"] == want["source"]
                    ):
                        continue
                    kept_entries.append(e)
                if len(kept_entries) == before:
                    raise ValueError(
                        f"DROP PARTITION FIELD {token!r}: no matching "
                        f"field in the default spec ({entries})"
                    )
                entries = kept_entries
            return update_partition_spec(path, entries)
        rm = _RENAME_COL_RE.match(rest)
        if rm:
            if fmt == "delta":
                from census_asc5_data_pipeline_spark.sources.delta_io import (
                    rename_delta_column,
                )

                return rename_delta_column(
                    spark, path, rm.group("old"), rm.group("new")
                )
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                rename_iceberg_column,
            )

            return rename_iceberg_column(
                path, rm.group("old"), rm.group("new")
            )
        dm = _DROP_COLS_RE.match(rest)
        if dm:
            cols = [
                c.strip()
                for c in (dm.group("pcols") or dm.group("bcols")).split(",")
                if c.strip()
            ]
            if fmt == "delta":
                from census_asc5_data_pipeline_spark.sources.delta_io import (
                    drop_delta_columns,
                )

                return drop_delta_columns(spark, path, cols)
            from census_asc5_data_pipeline_spark.sources.iceberg_io import (
                drop_iceberg_columns,
            )

            return drop_iceberg_columns(path, cols)
        raise ValueError(
            f"unsupported ALTER TABLE clause {rest!r} "
            "(ADD COLUMN(S) | RENAME COLUMN | DROP COLUMN(S) | "
            "SET TBLPROPERTIES)"
        )
    if head == "OPTIMIZE":
        m = _OPTIMIZE_RE.match(text)
        if not m:
            raise ValueError(f"cannot parse OPTIMIZE: {sql!r}")
        fmt, path = _resolve(m.group("target"))
        zcols = [
            c.strip() for c in (m.group("zcols") or "").split(",")
            if c.strip()
        ]
        if fmt == "delta":
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                optimize_delta,
            )

            return optimize_delta(
                spark, path, zorder_by=zcols or None
            ).get("version")
        from census_asc5_data_pipeline_spark.sources.iceberg_io import (
            rewrite_data_files,
        )

        return rewrite_data_files(
            spark, path, zorder_by=zcols or None
        ).get("snapshot_id")
    if head == "RESTORE":
        # delta-spark's RESTORE TABLE t TO VERSION|TIMESTAMP AS OF —
        # routed to restore_delta (new commit re-instating version N's
        # live set, history preserved) / rollback_iceberg (metadata
        # version moving current-snapshot-id back; r13)
        m = _RESTORE_RE.match(text)
        if not m:
            raise ValueError(
                f"cannot parse RESTORE: {sql!r} (supported: RESTORE "
                "[TABLE] t TO VERSION AS OF n | TIMESTAMP AS OF ts)"
            )
        fmt, path = _resolve(m.group("target"))
        ver, ts = m.group("ver"), m.group("ts")
        if ts is not None:
            from census_asc5_data_pipeline_spark.sources.delta_stream_source import (
                _parse_ts_ms,
            )

            ms = _parse_ts_ms(ts[1:-1] if ts.startswith("'") else ts)
        if fmt == "delta":
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                restore_delta,
                version_as_of_timestamp_delta,
            )

            v = (
                int(ver)
                if ver is not None
                else version_as_of_timestamp_delta(path, ms)
            )
            return restore_delta(spark, path, v)
        from census_asc5_data_pipeline_spark.sources.iceberg_io import (
            rollback_iceberg,
            snapshot_as_of_timestamp_iceberg,
        )

        sid = (
            int(ver)
            if ver is not None
            else snapshot_as_of_timestamp_iceberg(path, ms)
        )
        return rollback_iceberg(path, sid)
    if head == "VACUUM":
        m = _VACUUM_RE.match(text)
        if not m:
            raise ValueError(f"cannot parse VACUUM: {sql!r}")
        fmt, path = _resolve(m.group("target"))
        keep = int(m.group("keep")) if m.group("keep") else 2
        hours = (m.group("unit") or "").upper() == "HOURS"
        retain_ms = keep * 3_600_000 if hours else None
        if fmt == "delta":
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                vacuum_delta,
            )

            if hours:
                vacuum_delta(spark, path, retain_ms=retain_ms)
            else:
                vacuum_delta(spark, path, keep_versions=keep)
            return None
        from census_asc5_data_pipeline_spark.sources.iceberg_io import (
            expire_snapshots,
        )

        if hours:
            expire_snapshots(path, older_than_ms=retain_ms, spark=spark)
        else:
            expire_snapshots(path, keep_snapshots=keep, spark=spark)
        return None

    if head == "INSERT":
        m = _INSERT_RE.match(text)
        if not m:
            raise ValueError(
                f"cannot parse INSERT statement: {sql!r} (supported: "
                "INSERT INTO t [(cols)] SELECT ...|VALUES ...)"
            )
        fmt, path = _resolve(m.group("target"))
        return _insert_into(
            spark,
            fmt,
            path,
            m.group("cols"),
            m.group("body"),
            mode="overwrite" if m.group("over") else "append",
        )
    if head == "UPDATE":
        m = _UPDATE_RE.match(text)
        if not m:
            raise ValueError(f"cannot parse UPDATE statement: {sql!r}")
        fmt, path = _resolve(m.group("target"))
        set_list, pred = _split_where(m.group("rest"))
        sets = {}
        for item in _split_top(set_list):
            eq = next(
                (i for i, ch, _d in _top_level(item) if ch == "="),
                len(item),
            )
            k = item[:eq].strip()
            if len(k) > 1 and k[0] == k[-1] == "`":
                k = k[1:-1].replace("``", "`")
            sets[k] = item[eq + 1:].strip()
        return update_where(spark, fmt, path, pred or "true", sets)
    if head == "DELETE":
        m = _DELETE_RE.match(text)
        if not m:
            raise ValueError(f"cannot parse DELETE statement: {sql!r}")
        fmt, path = _resolve(m.group("target"))
        pred = m.group("pred") or "true"
        if fmt == "delta":
            from census_asc5_data_pipeline_spark.sources.delta_io import (
                delete_delta_where,
            )

            return delete_delta_where(spark, path, pred)
        from census_asc5_data_pipeline_spark.sources.iceberg_io import (
            delete_iceberg_positions,
        )

        return delete_iceberg_positions(spark, path, pred)
    if head == "CALL":
        # the Iceberg stored-procedure spellings for the ref
        # lifecycle (r13 — Spark-Iceberg's CALL catalog.system.*):
        # CALL create_branch(t, 'name'[, snapshot_id]) /
        # create_tag(t, 'name'[, snapshot_id]) / drop_ref(t, 'name') /
        # fast_forward(t, 'target', 'source') — the WAP flow is now
        # SQL end-to-end (audit reads via VERSION AS OF 'name')
        m = _CALL_RE.match(text)
        if not m:
            raise ValueError(
                f"cannot parse CALL: {sql!r} (supported: CALL "
                "[catalog.][system.]create_branch|create_tag|"
                "drop_ref|fast_forward(table, args...))"
            )
        proc = m.group("proc").lower()
        args = [
            a.strip() for a in _split_top(m.group("args")) if a.strip()
        ]
        if not args:
            raise ValueError("CALL needs at least the table argument")
        fmt, path = _resolve(args[0].strip("'\""))
        if fmt != "iceberg":
            raise ValueError(
                f"CALL {proc} targets Iceberg tables — {args[0]!r} is "
                f"{fmt}"
            )

        def _lit(s: str) -> str:
            s = s.strip()
            return s[1:-1] if s and s[0] in "'\"" else s

        from census_asc5_data_pipeline_spark.sources import (
            iceberg_io as ice,
        )

        if proc == "create_branch":
            return ice.create_branch(
                path,
                _lit(args[1]),
                snapshot_id=int(args[2]) if len(args) > 2 else None,
            )
        if proc == "create_tag":
            return ice.tag_snapshot(
                path,
                _lit(args[1]),
                snapshot_id=int(args[2]) if len(args) > 2 else None,
            )
        if proc == "drop_ref":
            return ice.drop_ref(path, _lit(args[1]))
        if proc == "fast_forward":
            return ice.fast_forward(path, _lit(args[1]), _lit(args[2]))
        if proc == "compute_table_stats":
            # Spark-Iceberg's ComputeTableStats procedure (r15): one
            # distributed distinct aggregate → Puffin ndv sidecar →
            # statistics registration (analyze_iceberg_ndv)
            return ice.analyze_iceberg_ndv(
                spark,
                path,
                columns=[_lit(a) for a in args[1:]] or None,
            )
        if proc == "remove_orphan_files":
            res = ice.remove_orphan_files(
                path,
                **(
                    {"older_than_ms": int(_lit(args[1]))}
                    if len(args) > 1
                    else {}
                ),
                spark=spark,
            )
            return res["orphans_removed"]
        raise ValueError(
            f"unknown procedure {proc!r} "
            "(create_branch|create_tag|drop_ref|fast_forward|"
            "compute_table_stats|remove_orphan_files)"
        )
    raise ValueError(
        f"unsupported DML statement {head!r} "
        "(CREATE|MERGE|INSERT|UPDATE|DELETE|ALTER|OPTIMIZE|VACUUM|"
        "RESTORE|CALL)"
    )

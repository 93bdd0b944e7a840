"""The benchmark's workloads: seeded inputs, one read op, one write op.

Each workload owns a private directory, builds its inputs from the
seed in ``setup``, and exposes a fixed, seeded op sequence.  An op
returns a digest of its collected result; ``expected`` recomputes the
same digests with DuckDB after the timed phase, so checking never
runs inside a timed op.  Money is integer cents, every served average
is ``SUM(x)::DOUBLE / COUNT(*)`` over exact integer sums, and both
engines therefore agree bit for bit.
"""

from __future__ import annotations

import bisect
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from census_asc5_data_pipeline_spark import catalog
from census_asc5_data_pipeline_spark import queries
from census_asc5_data_pipeline_spark.plans import curation
from census_asc5_data_pipeline_spark.plans import star_schema
from census_asc5_data_pipeline_spark.sources import csv_source
from census_asc5_data_pipeline_spark.sources import delta_io
from census_asc5_data_pipeline_spark.sources import iceberg_io
from census_asc5_data_pipeline_spark.sources import merge
from census_asc5_data_pipeline_spark.sources import sinks


def digest(rows) -> str:
    """Order-insensitive digest of collected rows (tuples or Rows)."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def du(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """One seeded closed-loop workload.

    ``ops`` is the full op list, each ``(kind, arg)`` with kind
    ``read``/``write``: ``n_warm`` untimed warm-up ops (writes, then
    reads), then the timed sequence.  The timed kinds follow a fixed
    even interleave, so table state (log length, checkpoints, delete
    files) evolves the same way under every seed; the seed picks only
    the arguments.
    """

    name = ""
    warmup_writes = 2
    warmup_reads = 2

    def __init__(self, spark, root: str, seed: int, n_read: int, n_write: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        n = n_read + n_write
        timed = [
            "write" if (i + 1) * n_write // n > i * n_write // n else "read"
            for i in range(n)
        ]
        self.n_warm = self.warmup_writes + self.warmup_reads
        kinds = ["write"] * self.warmup_writes + ["read"] * self.warmup_reads + timed
        self.ops = self.plan_args(kinds)

    def plan_args(self, kinds: list[str]) -> list[tuple[str, object]]:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, kind: str, arg) -> str:
        return self.read(arg) if kind == "read" else self.write(arg)

    def expected(self) -> tuple[list[str | None], bool]:
        """Oracle digest per op (None: the op has nothing to compare)
        and whether the final state checks out."""
        raise NotImplementedError

    def storage_amp(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------- census

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("total_c", T.LongType()),
        T.StructField("order_date", T.DateType()),
        T.StructField("priority", T.StringType()),
        T.StructField("year", T.IntegerType()),
    ]
)
LINES_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("qty", T.LongType()),
        T.StructField("price_c", T.LongType()),
        T.StructField("discount_pct", T.LongType()),
        T.StructField("year", T.IntegerType()),
    ]
)
CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("cust_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("nation_id", T.IntegerType()),
        T.StructField("balance_c", T.LongType()),
        T.StructField("segment", T.StringType()),
        T.StructField("year", T.IntegerType()),
    ]
)
CENSUS_SCHEMAS = {
    "orders": ORDERS_SCHEMA,
    "lineitem": LINES_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
}


class CensusServe(Workload):
    """Per-year CSV extracts served through the star-schema views."""

    name = "census_serve"
    n_orders = 30_000
    n_customers = 3_000

    # JIT warm-up of the planning path is slow: with 7 warm-up reads the
    # second half of a 30-read run was still 15-20 % faster than the first
    # (with 14, by 22 %); with 21 the halves agree within a few percent
    warmup_writes = 2
    warmup_reads = 3 * len(gen.YEARS)

    def plan_args(self, kinds):
        # warm-up ops cycle through the years; timed years are seeded
        r = np.random.default_rng([self.seed, 7])
        return [
            (k, gen.YEARS[i % len(gen.YEARS)] if i < self.n_warm else int(r.choice(gen.YEARS)))
            for i, k in enumerate(kinds)
        ]

    def setup(self) -> None:
        src = os.path.join(self.root, "src")
        for name, table in gen.tpch(self.seed, self.n_orders, self.n_customers).items():
            gen.write(table, os.path.join(src, f"{name}.parquet"))
            if name == "lineitem":
                self.n_lines = table.num_rows
        self.tables = catalog.load_tables(self.spark, src)
        self.csv = os.path.join(self.root, "csv")
        for ds in CENSUS_SCHEMAS:
            sinks.write_csv(
                self._extract(ds), os.path.join(self.csv, ds), partition_by=["year"]
            )

    def _extract(self, ds: str, year: int | None = None):
        """The stand-in for the Census API pull: one dataset, renamed
        to readable names, for every year or for one."""
        o = self.tables["orders"].withColumn("year", F.year("o_orderdate"))
        if year is not None:
            o = o.filter(F.col("year") == year)
        if ds == "orders":
            out = o.select(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_custkey").alias("cust_id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice_c").alias("total_c"),
                F.col("o_orderdate").alias("order_date"),
                F.col("o_orderpriority").alias("priority"),
                "year",
            )
        elif ds == "lineitem":
            out = self.tables["lineitem"].join(
                o.select(F.col("o_orderkey").alias("l_orderkey"), "year"), "l_orderkey"
            ).select(
                F.col("l_orderkey").alias("order_id"),
                F.col("l_linenumber").alias("line_no"),
                F.col("l_quantity").alias("qty"),
                F.col("l_extendedprice_c").alias("price_c"),
                F.col("l_discount_pct").alias("discount_pct"),
                "year",
            )
        else:
            active = o.select(F.col("o_custkey").alias("c_custkey"), "year").distinct()
            out = self.tables["customer"].join(active, "c_custkey").select(
                F.col("c_custkey").alias("cust_id"),
                F.col("c_name").alias("name"),
                F.col("c_nationkey").alias("nation_id"),
                F.col("c_acctbal_c").alias("balance_c"),
                F.col("c_mktsegment").alias("segment"),
                "year",
            )
        return out.drop("year") if year is not None else out

    def read(self, year: int) -> str:
        t = {
            ds: csv_source.read_csv(self.spark, os.path.join(self.csv, ds), schema)
            for ds, schema in CENSUS_SCHEMAS.items()
        }
        cust_dim = star_schema.dim_view(
            t["customer"], {"cust_id": "cust_id", "nation_id": "nation_id"}
        )
        order_m = star_schema.measure_view(
            t["orders"],
            {"order_id": "order_id", "year": "year", "cust_id": "cust_id"},
            {"total_c": F.sum("total_c")},
        )
        line_m = star_schema.measure_view(
            t["lineitem"],
            {"order_id": "order_id", "year": "year"},
            {
                "revenue_c": F.sum(F.col("price_c") * (100 - F.col("discount_pct"))),
                "qty": F.sum("qty"),
            },
        )
        fact = star_schema.fact_join(
            [order_m, line_m], ["order_id", "year"], [(cust_dim, ["cust_id"])]
        )
        rows = (
            fact.filter(F.col("year") == year)
            .groupBy("nation_id")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.avg("total_c").alias("avg_total_c"),
                F.avg("revenue_c").alias("avg_revenue_c"),
                F.avg("qty").alias("avg_qty"),
            )
            .collect()
        )
        return digest(rows)

    def write(self, year: int) -> str:
        for ds in CENSUS_SCHEMAS:
            sinks.write_csv(
                self._extract(ds, year), os.path.join(self.csv, ds, f"year={year}")
            )
        return ""

    def _duck(self):
        """DuckDB views over the current CSV prefixes."""
        con = duckdb.connect()
        for ds, schema in CENSUS_SCHEMAS.items():
            cols = ", ".join(
                f"'{f.name}': '{_DUCK[f.dataType.typeName()]}'"
                for f in schema.fields
                if f.name != "year"
            )
            con.execute(
                f"CREATE VIEW {ds} AS SELECT * FROM read_csv("
                f"'{self.csv}/{ds}/*/*.csv', header=true, hive_partitioning=true, "
                f"hive_types={{'year': INTEGER}}, columns={{{cols}}})"
            )
        return con

    def expected(self):
        con = self._duck()
        sql = """
            SELECT year, nation_id, COUNT(*), SUM(total_c)::DOUBLE / COUNT(*),
                   SUM(revenue_c)::DOUBLE / COUNT(*), SUM(qty)::DOUBLE / COUNT(*)
            FROM (SELECT order_id, year, cust_id, SUM(total_c) AS total_c
                  FROM orders GROUP BY ALL)
            JOIN (SELECT order_id, year, SUM(price_c * (100 - discount_pct)) AS revenue_c,
                         SUM(qty) AS qty
                  FROM lineitem GROUP BY ALL) USING (order_id, year)
            JOIN (SELECT DISTINCT cust_id, nation_id FROM customer) USING (cust_id)
            GROUP BY year, nation_id
        """
        rows_by_year: dict[int, list] = {}
        for year, n, c, a, b, q in con.execute(sql).fetchall():
            rows_by_year.setdefault(year, []).append((int(n), int(c), float(a), float(b), float(q)))
        by_year = {year: digest(rows) for year, rows in rows_by_year.items()}
        out = [by_year.get(year, digest([])) if kind == "read" else None for kind, year in self.ops]
        # every write re-extracts identical rows, so the final CSVs must
        # still hold exactly the generated source
        n_orders = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
        n_lines = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
        ok = n_orders == self.n_orders and n_lines == self.n_lines
        con.close()
        return out, ok

    def storage_amp(self) -> float:
        compact = os.path.join(self.root, "compact")
        for ds, schema in CENSUS_SCHEMAS.items():
            df = self.spark.read.option("header", "true").schema(schema).csv(
                os.path.join(self.csv, ds)
            )
            sinks.write_csv(
                df.repartition(1, "year"), os.path.join(compact, ds), partition_by=["year"]
            )
        return du(self.csv) / du(compact)


_DUCK = {
    "long": "BIGINT",
    "integer": "INTEGER",
    "string": "VARCHAR",
    "date": "DATE",
}


# --------------------------------------------------------------- lakehouse

TABLE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice_c",
    "o_orderdate",
    "o_orderpriority",
]
READ_AGG = (
    "COUNT(*)",
    "SUM(o_totalprice_c)",
    "SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)",
    "MIN(o_orderkey)",
    "MAX(o_orderkey)",
)


class LakehouseDML(Workload):
    """Row-level MERGE upserts and key-range reads on one table format.

    Every MERGE source has the same size and the same shares: 50
    matched updates, 10 matched deletes and 40 inserts.  Matched keys
    come from the newest quarter of the live keys; inserts take fresh
    keys above the current maximum.  Reads aggregate a fixed-width
    seeded key range through the format's predicate skipping.
    """

    fmt = ""
    n_orders = 150_000
    n_files = 8
    n_update, n_delete, n_insert = 50, 10, 40
    read_width = 3_000

    def plan_args(self, kinds):
        r = np.random.default_rng([self.seed, 11])
        live = list(range(self.n_orders))
        next_key = self.n_orders
        self.statements: list[pa.Table] = []
        out = []
        for kind in kinds:
            if kind == "read":
                lo = int(r.integers(0, next_key - self.read_width))
                out.append((kind, lo))
                continue
            window = len(live) // 4
            picks = r.choice(window, self.n_update + self.n_delete, replace=False)
            keys = [live[len(live) - 1 - int(i)] for i in picks]
            upd, dele = keys[: self.n_update], keys[self.n_update :]
            ins = list(range(next_key, next_key + self.n_insert))
            next_key += self.n_insert
            n = len(keys) + len(ins)
            self.statements.append(
                pa.table(
                    {
                        "o_orderkey": pa.array(upd + dele + ins, pa.int64()),
                        "o_custkey": r.integers(0, 15_000, n, dtype=np.int64),
                        "o_orderstatus": gen.STATUSES[r.integers(0, 3, n)],
                        "o_totalprice_c": r.integers(100_00, 500_000_00, n, dtype=np.int64),
                        "o_orderdate": pa.array(
                            np.datetime64("2001-06-01") + r.integers(0, 200, n).astype("timedelta64[D]"),
                            pa.date32(),
                        ),
                        "o_orderpriority": gen.PRIORITIES[r.integers(0, 5, n)],
                        "op": ["U"] * len(upd) + ["D"] * len(dele) + ["I"] * len(ins),
                    }
                )
            )
            out.append((kind, len(self.statements) - 1))
            for k in dele:
                del live[bisect.bisect_left(live, k)]
            live.extend(ins)
        return out

    def setup(self) -> None:
        src = os.path.join(self.root, "src")
        orders = gen.tpch(self.seed, self.n_orders, 15_000)["orders"]
        self.orders_file = gen.write(orders, os.path.join(src, "orders.parquet"))
        self.sources = []
        for i, t in enumerate(self.statements):
            self.sources.append(gen.write(t, os.path.join(src, "merge", f"{i}.parquet")))
        df = catalog.load_tables(self.spark, src)["orders"]
        self.path = os.path.join(self.root, "table")
        self.create(df.repartitionByRange(self.n_files, "o_orderkey"), self.path)

    def create(self, df, path: str) -> None:
        raise NotImplementedError

    def scan(self, predicate: str | None = None):
        raise NotImplementedError

    def read(self, lo: int) -> str:
        pred = f"o_orderkey >= {lo} AND o_orderkey < {lo + self.read_width}"
        rows = self.scan(pred).selectExpr(*READ_AGG).collect()
        return digest(rows)

    def write(self, i: int) -> str:
        source = self.spark.read.parquet(self.sources[i])
        merge.merge_into(
            self.spark,
            self.fmt,
            self.path,
            source,
            "t.o_orderkey = s.o_orderkey",
            matched=[
                ("delete", "s.op = 'D'"),
                (
                    "update",
                    None,
                    {
                        "o_orderstatus": "s.o_orderstatus",
                        "o_totalprice_c": "s.o_totalprice_c",
                    },
                ),
            ],
            not_matched={c: f"s.{c}" for c in TABLE_COLS},
        )
        return ""

    def expected(self):
        """Replay the statement stream in DuckDB as DELETE, UPDATE and
        INSERT (DuckDB 1.0 has no MERGE), evaluating each read where it
        falls in the stream; then compare the final table."""
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.orders_file}')")
        agg = ", ".join(READ_AGG)
        out = []
        for kind, arg in self.ops:
            if kind == "read":
                rows = con.execute(
                    f"SELECT {agg} FROM t WHERE o_orderkey >= ? AND o_orderkey < ?",
                    [arg, arg + self.read_width],
                ).fetchall()
                out.append(digest(tuple(None if v is None else int(v) for v in r) for r in rows))
                continue
            out.append(None)
            con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{self.sources[arg]}')")
            con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM s WHERE op = 'D')")
            con.execute(
                "UPDATE t SET o_orderstatus = s.o_orderstatus, o_totalprice_c = s.o_totalprice_c "
                "FROM s WHERE t.o_orderkey = s.o_orderkey AND s.op = 'U'"
            )
            con.execute(f"INSERT INTO t SELECT {', '.join(TABLE_COLS)} FROM s WHERE op = 'I'")
        self._compact()
        got = f"SELECT {', '.join(TABLE_COLS)} FROM read_parquet('{self.compact_glob}')"
        want = f"SELECT {', '.join(TABLE_COLS)} FROM t"
        n_got = con.execute(f"SELECT COUNT(*) FROM ({got})").fetchone()[0]
        n_want = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({got}) EXCEPT ({want}) UNION ALL (({want}) EXCEPT ({got})))"
        ).fetchone()[0]
        con.close()
        return out, n_got == n_want and diff == 0

    def _compact(self) -> None:
        """The live rows written once, as one file, in the same format."""
        self.compact = os.path.join(self.root, "compact")
        if not os.path.exists(self.compact):
            self.create(self.scan().coalesce(1), self.compact)

    def storage_amp(self) -> float:
        self._compact()
        return du(self.path) / du(self.compact)


class DeltaDML(LakehouseDML):
    name = "delta_dml"
    fmt = "delta"
    # Delta's default interval.  The create is v0 and the 2 warm-up
    # MERGEs v1-v2, so at the default --seconds (8 timed MERGEs) the last
    # timed op, a MERGE, writes the run's one checkpoint, v10.  Every
    # timed read replays the JSON log since v0, which grows by one commit
    # per MERGE; the class stays one shape under every seed.  Other
    # --seconds move the checkpoint, or leave it out.
    checkpoint_interval = 10
    # reads keep warming up through a run: with 2 warm-up reads the second
    # half of the 40 timed ones ran 25 % faster than the first, with 10 19 %
    warmup_reads = 10

    def create(self, df, path: str) -> None:
        delta_io.write_delta(
            df,
            path,
            configuration={"delta.checkpointInterval": str(self.checkpoint_interval)},
        )
        self.compact_glob = os.path.join(self.root, "compact", "*.parquet")

    def scan(self, predicate: str | None = None):
        return delta_io.read_delta(self.spark, self.path, predicate=predicate)


class IcebergDML(LakehouseDML):
    name = "iceberg_dml"
    fmt = "iceberg"

    def create(self, df, path: str) -> None:
        iceberg_io.write_iceberg(df, path)
        self.compact_glob = os.path.join(self.root, "compact", "data", "**", "*.parquet")

    def scan(self, predicate: str | None = None):
        return iceberg_io.read_iceberg(self.spark, self.path, predicate=predicate)


# ---------------------------------------------------------------- corpus


class CorpusCuration(Workload):
    """Batch curation of fixed 1000-document shards.

    Each shard is generated on its own with ``exact_dup_share`` verbatim
    and ``near_dup_share`` one-word-edited copies of its documents, so
    the duplicate share sets the pair count and the component rounds.
    """

    name = "corpus_curation"
    warmup_writes = 1
    warmup_reads = 1
    shard_docs = 1_000
    n_shards = 8
    exact_dup_share = 0.05
    near_dup_share = 0.10

    def plan_args(self, kinds):
        r = np.random.default_rng([self.seed, 13])
        # the warm-up ops use shard n_shards, never a timed one
        return [
            (k, self.n_shards if i < self.n_warm else int(r.integers(0, self.n_shards)))
            for i, k in enumerate(kinds)
        ]

    def setup(self) -> None:
        self.shard_dirs = []
        for k in range(self.n_shards + 1):
            t = gen.documents(
                self.seed * 1000 + k,
                self.shard_docs,
                self.exact_dup_share,
                self.near_dup_share,
            )
            t = t.set_column(0, "doc_id", pc.add(t["doc_id"], k * self.shard_docs))
            d = os.path.join(self.root, "src", f"shard{k}")
            gen.write(t, os.path.join(d, "documents.parquet"))
            self.shard_dirs.append(d)
        catalog.load_tables(self.spark, self.shard_dirs[0])
        self.out = os.path.join(self.root, "export")

    def _docs(self, shard: int):
        return catalog.read_table(self.spark, self.shard_dirs[shard], "documents")

    def read(self, shard: int) -> str:
        verdict = curation.curate(self._docs(shard))
        rows = verdict.collect()
        queries.unpersist_deps(verdict)
        self.last_kept = len(rows)
        return digest(rows)

    def write(self, shard: int) -> str:
        counts = curation.export_corpus(
            self._docs(shard), os.path.join(self.out, f"shard={shard}")
        )
        return digest(sorted(counts.items()))

    def expected(self):
        con = duckdb.connect()
        by_shard = {}
        for k in {arg for _, arg in self.ops}:
            path = os.path.join(self.shard_dirs[k], "documents.parquet")
            con.execute(
                f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')"
            )
            rows = con.execute(queries.ORACLES["curate_corpus"]).fetchall()
            splits: dict[str, int] = {}
            for _, split, _ in rows:
                splits[split] = splits.get(split, 0) + 1
            by_shard[k] = (digest(rows), digest(sorted(splits.items())))
        con.close()
        out = [by_shard[a][0 if k == "read" else 1] for k, a in self.ops]
        return out, True

    def storage_amp(self) -> float:
        compact = os.path.join(self.root, "compact")
        df = self.spark.read.json(self.out)
        (
            df.repartition(1)
            .write.partitionBy("shard", "split")
            .option("compression", "gzip")
            .json(compact)
        )
        return du(self.out) / du(compact)


WORKLOADS = {
    w.name: w for w in (CensusServe, DeltaDML, IcebergDML, CorpusCuration)
}

"""Seeded input generation: TPC-H-shaped sources and a document corpus.

Everything here is a pure function of the seed and the size constants,
written with numpy + pyarrow (no Spark), so the same seed gives
byte-identical parquet inputs.  Money is integer cents and discounts
integer percent, so every aggregate the workloads serve is exact and
compares bit-for-bit against DuckDB.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = tuple(range(1995, 2002))
N_NATIONS = 25
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
VOCAB = np.array(
    (
        "a batch big column data fast filter group hash key line merge order "
        "part query row scan slow small sort spark stream table value vector "
        "window agg join index shard log file commit delta iceberg snapshot "
        "manifest schema tuple page block cache spill task stage driver"
    ).split()
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def tpch(seed: int, n_orders: int, n_customers: int) -> dict[str, pa.Table]:
    """orders / lineitem / customer with the testdata's column names.

    Order dates span 1995-2001; lineitem carries 1-7 lines per order.
    """
    r = _rng(seed, 1)
    okey = np.arange(n_orders, dtype=np.int64)
    year = r.choice(np.array(YEARS, dtype=np.int32), n_orders)
    day = r.integers(0, 365, n_orders)
    odate = (
        (year - 1970).astype("datetime64[Y]").astype("datetime64[D]")
        + day.astype("timedelta64[D]")
    )
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": r.integers(0, n_customers, n_orders, dtype=np.int64),
            "o_orderstatus": STATUSES[r.integers(0, 3, n_orders)],
            "o_totalprice_c": r.integers(100_00, 500_000_00, n_orders, dtype=np.int64),
            "o_orderdate": odate,
            "o_orderpriority": PRIORITIES[r.integers(0, 5, n_orders)],
        }
    )
    n_lines = r.integers(1, 8, n_orders)
    lkey = np.repeat(okey, n_lines)
    total = int(n_lines.sum())
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    lineitem = pa.table(
        {
            "l_orderkey": lkey,
            "l_linenumber": (np.arange(total) - starts + 1).astype(np.int32),
            "l_quantity": r.integers(1, 51, total, dtype=np.int64),
            "l_extendedprice_c": r.integers(900_00, 100_000_00, total, dtype=np.int64),
            "l_discount_pct": r.integers(0, 11, total, dtype=np.int64),
        }
    )
    ckey = np.arange(n_customers, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ckey,
            "c_name": pa.array([f"Customer#{k:09d}" for k in ckey]),
            "c_nationkey": r.integers(0, N_NATIONS, n_customers).astype(np.int32),
            "c_acctbal_c": r.integers(-999_99, 9_999_99, n_customers, dtype=np.int64),
            "c_mktsegment": SEGMENTS[r.integers(0, 5, n_customers)],
        }
    )
    return {"orders": orders, "lineitem": lineitem, "customer": customer}


def _pii(r: np.random.Generator) -> str:
    kind = r.integers(0, 3)
    if kind == 0:
        return f"user{r.integers(0, 10**6)}@mail{r.integers(0, 9)}.example.com"
    if kind == 1:
        return f"{r.integers(100, 1000)}-{r.integers(10, 100)}-{r.integers(1000, 10000)}"
    return f"{r.integers(100, 1000)}.{r.integers(100, 1000)}.{r.integers(1000, 10000)}"


def documents(
    seed: int, n_docs: int, exact_dup_share: float, near_dup_share: float
) -> pa.Table:
    """A corpus shaped like the testdata ``documents`` table.

    Base documents are 8-90 words drawn from a small vocabulary (some
    fail the quality gate), a few carry a PII span, and after them come
    planted duplicates: ``exact_dup_share`` verbatim copies and
    ``near_dup_share`` copies with one word replaced, each of an
    earlier document.  Ids are a seeded permutation, so duplicates are
    spread over every shard.
    """
    r = _rng(seed, 2)
    n_exact = int(round(n_docs * exact_dup_share))
    n_near = int(round(n_docs * near_dup_share))
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    for _ in range(n_base):
        w = list(VOCAB[r.integers(0, len(VOCAB), r.integers(8, 91))])
        if r.random() < 0.1:
            w.insert(int(r.integers(0, len(w))), _pii(r))
        texts.append(" ".join(w))
    for _ in range(n_exact):
        texts.append(texts[int(r.integers(0, n_base))])
    for _ in range(n_near):
        w = texts[int(r.integers(0, n_base))].split(" ")
        w[int(r.integers(0, len(w)))] = str(VOCAB[r.integers(0, len(VOCAB))])
        texts.append(" ".join(w))
    ids = r.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)
    return pa.table(
        {
            "doc_id": ids[order],
            "text": pa.array([texts[i] for i in order]),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path

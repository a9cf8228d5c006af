"""Output checks: order-insensitive result fingerprints, the DuckDB oracle
and the expected side effects of a revalidation day."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1


def fingerprint(columns: list[str], rows, canon_cell) -> tuple:
    """(row count, sorted column names, multiset hash of the canonical rows).

    Columns are taken in name order and each row hashes on its own, so the
    fingerprint ignores both row order and column order, like the oracle's
    comparison.  ``canon_cell`` is ``oracle._canon_cell``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        cells = tuple(canon_cell(row[i]) for i in order)
        digest = hashlib.blake2b(repr(cells).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "little")) & MASK64
        n += 1
    return (n, tuple(sorted(columns)), acc)


def oracle_fingerprint(con, sql: str, canon_cell) -> tuple:
    rel = con.sql(sql)
    return fingerprint(list(rel.columns), rel.fetchall(), canon_cell)


def dataset_fingerprint(root: str, canon_cell) -> tuple[tuple, int]:
    """Fingerprint of a partitioned parquet dataset read back without Spark,
    and its number of data files."""
    table = pq.read_table(root)
    files = sum(
        1 for _, _, names in os.walk(root) for f in names if f.endswith(".parquet")
    )
    cols = table.column_names
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    return fingerprint(cols, rows, canon_cell), files


def revalidation_expectation(con, today: str, flag_sql: str) -> dict[str, int]:
    """What one revalidation day must produce, computed independently in
    DuckDB: the changed orders, their flipped line items, the newly valid
    orders, and the distinct keys the KV store must end up holding."""
    row = con.sql(f"""
WITH meta AS (
  SELECT o_orderkey AS meta_key,
         (TIMESTAMP '{today}' BETWEEN o_orderdate
                                  AND o_orderdate + INTERVAL 90 DAY) AS now_valid,
         {flag_sql} AS stored_valid
  FROM orders
), changed AS (SELECT * FROM meta WHERE now_valid <> stored_valid),
details AS (
  SELECT {detail_key_sql('l_')} AS detail_key
  FROM lineitem JOIN changed ON l_orderkey = meta_key
)
SELECT (SELECT count(*) FROM changed),
       (SELECT count(*) FROM details),
       (SELECT count(*) FROM changed WHERE now_valid),
       (SELECT count(DISTINCT meta_key) FROM changed)
         + (SELECT count(DISTINCT detail_key) FROM details)
""").fetchone()
    return dict(zip(("changed", "details_flipped", "notified", "kv_keys"), row))


def detail_key_sql(prefix: str) -> str:
    """Line-item key, identical in Spark SQL and DuckDB; the ``L-`` prefix
    keeps it apart from the integer order keys in the shared KV store."""
    cols = ", ".join(
        f"CAST({prefix}{c} AS STRING)" for c in ("orderkey", "linenumber", "partkey", "suppkey")
    )
    return f"concat_ws('-', 'L', {cols})"

"""Concurrent callers on two data directories in one session.

``register_sql`` queries bind their base tables through
``sources.tables.table_view``, whose view name carries the data
directory, so a caller on one directory never reads a view another caller
just rebound to a different directory.  Threads interleave both
directories over a few such queries; each result must equal that
directory's single-threaded result.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from conftest import SF_ORACLE, SF_SMOKE
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY

QUERIES = (
    "dedup_exact",
    "event_transition_matrix",
    "q22_dormant_high_balance",
    "percentile_prices",
)


def _rows(spark, name: str, sf_dir: str) -> list[tuple]:
    return sorted((tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect()), key=repr)


def test_interleaved_sf_dirs_match_serial(spark):
    calls = [(name, sf) for name in QUERIES for sf in (SF_SMOKE, SF_ORACLE)]
    serial = {call: _rows(spark, *call) for call in calls}
    assert all(serial.values())
    assert all(serial[(n, SF_SMOKE)] != serial[(n, SF_ORACLE)] for n in QUERIES)

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [(call, pool.submit(_rows, spark, *call)) for call in calls * 2]
        for call, fut in futures:
            assert fut.result(timeout=300) == serial[call], call

"""The benchmark's workloads: named lists of items, each a call into the
engine's public API whose output the benchmark checks.

An item has a timed ``build`` (the library call that returns a DataFrame or
prepares a sink call) and a timed ``execute`` (the collect or the sink
write), then an untimed ``check``.  Item lists are frozen here so every
commit measures the same work; the seed only changes the generated data, the
revalidation dates and the item order within a pass.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass

from checks import dataset_fingerprint, detail_key_sql

# operators.relational / operators.tpch_extra queries whose ``fn`` call
# starts no Spark job: the time goes to parquet scans, Catalyst and
# exchange/job scheduling, with no eager materialization, Python workers,
# streaming or sinks.  A spread of join, window and TPC-H shapes with
# latencies between about 0.3 and 1.1 s, sized so a run fits its budget.
RELATIONAL_SCAN = (
    "q3_top_unshipped_revenue",
    "q5_revenue_by_nation",
    "q7_volume_shipping",
    "q13_customer_order_distribution",
    "q22_dormant_high_balance",
    "broadcast_lookup_join",
    "window_running_total",
    "event_transition_matrix",
)

# DAG #1 (flyer pages -> priced item records) as library calls: the
# per-shop price dispatcher's records go through the dataset sink, and the
# core price parser is collected.
FLYER_DAG1 = ("parse_price_core",)
FLYER_DAG1_SINK = "price_dispatcher_suite"
# Structured Streaming AvailableNow replays.
FLYER_STREAMING = ("streaming_dedup_watermark",)
# A query whose ``fn`` call itself runs Spark jobs: ``session.materialize_once``
# checkpoints its shared subquery on every call and leaves the checkpoint in
# storage, so the eager-materialization path and the retained cache are
# measured on this workload.
FLYER_MATERIALIZED = ("q2_min_cost_supplier",)
# DAG #2: revalidation days drawn from the seed.
FLYER_REVALIDATION_DAYS = 1

# Revalidation metadata: order validity is [o_orderdate, o_orderdate + 90
# days]; the stored flag is a seeded multiplicative hash (~2% stored valid),
# so each day flips a few percent of orders.  Same text in Spark and DuckDB.
STORED_FLAG_SQL = "((o_orderkey * 2654435761 + {seed}) % 97) < 2"


@dataclass
class Outcome:
    ok: bool
    detail: str = ""
    rows: int = 0          # result rows (query items) or rows written (sinks)


class Item:
    name: str
    layer: str             # layer of the build call
    exec_layer = "exec"    # layer of the execute call
    oracle: str | None = None       # DuckDB SQL for the collected result
    sink_oracle: str | None = None  # DuckDB SQL for what a sink wrote

    def build(self, ctx):
        raise NotImplementedError

    def execute(self, ctx, built):
        raise NotImplementedError

    def check(self, ctx, built, result) -> Outcome:
        raise NotImplementedError


class QueryItem(Item):
    """A registry query: ``fn(spark, sf_dir)`` then ``.collect()``.  Checked
    against the oracle-backed fingerprint, or pinned to the first result."""

    def __init__(self, name: str, layer: str = "operators"):
        from sales_telegram_bot_data_pipeline_spark.registry import REGISTRY

        self.name = name
        self.layer = layer
        self.fn = REGISTRY[name].fn
        self.oracle = REGISTRY[name].oracle

    def build(self, ctx):
        return self.fn(ctx.spark, ctx.sf_dir)

    def execute(self, ctx, df):
        return df.collect()

    def check(self, ctx, df, rows) -> Outcome:
        fp = ctx.fingerprint(df.columns, rows)
        return ctx.pin(self.name, fp, len(rows))


class DatasetSinkItem(Item):
    """A pipeline query whose result is written by ``sinks.dataset`` into a
    fresh directory and read back without Spark; the read-back must match
    the query's DuckDB oracle, or else its first result."""

    def __init__(self, name: str):
        from sales_telegram_bot_data_pipeline_spark.registry import REGISTRY

        self.name = f"{name}>write_dataset"
        self.layer = "operators"
        self.exec_layer = "sinks.dataset"
        self.fn = REGISTRY[name].fn
        self.sink_oracle = REGISTRY[name].oracle

    def build(self, ctx):
        return self.fn(ctx.spark, ctx.sf_dir)

    def execute(self, ctx, df):
        from sales_telegram_bot_data_pipeline_spark.sinks.dataset import write_dataset

        root = ctx.fresh_dir("dataset")
        write_dataset(df, root, partition_by=("shop_name",))
        return root

    def check(self, ctx, df, root) -> Outcome:
        fp, files = dataset_fingerprint(root, ctx.canon_cell)
        ctx.counters["sinks.dataset.files"] = files
        shutil.rmtree(root, ignore_errors=True)
        return ctx.pin(self.name, fp, fp[0])


class RevalidationItem(Item):
    """One DAG #2 day: ``run_revalidation_batch`` over order metadata and
    line-item details, writing the KV and webhook sinks into fresh files.
    Checked against the same day recomputed in DuckDB."""

    def __init__(self, day: str, seed: int):
        self.name = f"revalidate@{day}"
        self.layer = "operators"
        self.exec_layer = "revalidate"
        self.day = day
        self.flag_sql = STORED_FLAG_SQL.format(seed=seed)

    def build(self, ctx):
        from pyspark.sql import functions as F

        from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        lineitem = load_table(ctx.spark, ctx.sf_dir, "lineitem")
        meta = orders.select(
            F.col("o_orderkey").alias("meta_key"),
            F.col("o_orderdate").alias("valid_from"),
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("valid_to"),
            F.expr(self.flag_sql).alias("stored_valid"),
        )
        details = lineitem.select(
            F.expr(detail_key_sql("l_")).alias("detail_key"),
            F.col("l_orderkey").alias("detail_fk"),
        )
        return meta, details

    def execute(self, ctx, built):
        from sales_telegram_bot_data_pipeline_spark.streaming.revalidate import (
            run_revalidation_batch,
        )

        meta, details = built
        d = ctx.fresh_dir("revalidate")
        kv, hook = os.path.join(d, "kv.jsonl"), os.path.join(d, "webhook.jsonl")
        counts = run_revalidation_batch(ctx.spark, meta, details, self.day, kv, hook)
        return counts, kv, hook

    def check(self, ctx, built, result) -> Outcome:
        from sales_telegram_bot_data_pipeline_spark.sinks.kv import InMemoryKVStore
        from sales_telegram_bot_data_pipeline_spark.sinks.webhook import WebhookBatcher

        counts, kv, hook = result
        expect = ctx.revalidation_expectation(self.day, self.flag_sql)
        keys = len(InMemoryKVStore(kv).snapshot())
        batches = WebhookBatcher(hook).sent_batches()
        messages = sum(len(b) for b in batches)
        kv_rows, kv_bytes = _line_count(kv), _size(kv)
        ctx.counters.update({
            "sinks.kv.rows": kv_rows, "sinks.kv.bytes": kv_bytes,
            "sinks.webhook.batches": len(batches),
        })
        shutil.rmtree(os.path.dirname(kv), ignore_errors=True)
        problems = [
            f"{k}={counts.get(k)} expected {expect[k]}"
            for k in ("changed", "details_flipped", "notified")
            if counts.get(k) != expect[k]
        ]
        if keys != counts["changed"] + counts["details_flipped"] or keys != expect["kv_keys"]:
            problems.append(f"kv keys={keys} expected {expect['kv_keys']}")
        if messages != counts["notified"]:
            problems.append(f"webhook messages={messages} notified={counts['notified']}")
        return Outcome(not problems, "; ".join(problems), kv_rows)


def _line_count(path: str) -> int:
    try:
        with open(path, "rb") as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except FileNotFoundError:
        return 0


def revalidation_days(seed: int, n: int) -> list[str]:
    """``n`` distinct dates inside the order-date range, drawn from the seed."""
    rng = random.Random(f"revalidation-{seed}")
    first, span = dt.date(1995, 3, 1), 2300
    days = rng.sample(range(span), n)
    return [(first + dt.timedelta(days=d)).isoformat() for d in sorted(days)]


def relational_scan(seed: int) -> list[Item]:
    return [QueryItem(n) for n in RELATIONAL_SCAN]


def flyer_etl(seed: int) -> list[Item]:
    items: list[Item] = [DatasetSinkItem(FLYER_DAG1_SINK)]
    items += [QueryItem(n) for n in FLYER_DAG1 + FLYER_MATERIALIZED]
    items += [RevalidationItem(d, seed) for d in revalidation_days(seed, FLYER_REVALIDATION_DAYS)]
    items += [QueryItem(n, layer="streaming") for n in FLYER_STREAMING]
    return items


WORKLOADS = {
    "relational_scan": relational_scan,
    "flyer_etl": flyer_etl,
}

"""SparkSession construction with scale-oriented defaults.

The driver passes its own session to ``queries()`` callables, so nothing in
the engine may *depend* on these configs (all expressions are written
ANSI-mode-safe with try_cast / try_divide etc.).  This builder is what tests
and bench.py use locally.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sales_telegram_bot_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session tuned like a well-configured cluster job.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    Arrow on (vectorized pandas_udf transfer), broadcast threshold left at
    default 10 MB so small dims broadcast automatically.

    shuffle.partitions defaults to the core count (>= 32): MEASURED on the
    four heaviest sf0.1 queries (capstone, connected components, q1,
    semantic dedup) — 32 partitions 10.9 s vs 11.8 s at 8 (undersplit:
    idle cores) and 13.0 s at 128 (oversplit: per-task overhead; AQE
    coalescing recovers some but not the scheduling cost).  On a cluster
    the same rule holds per-executor-core, with
    spark.sql.adaptive.coalescePartitions sizing the small stages down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    return builder.getOrCreate()


def materialize_once(spark: SparkSession, sql_text: str, tag: str, key: str = "") -> str:
    """``localCheckpoint`` ``sql_text`` once per call and return a temp-view
    name that reads the checkpointed rows.

    Spark inlines every CTE and already plans repeated subtrees as
    ``ReusedExchange``/``ReusedSubquery``, so a checkpoint only adds an
    eager action unless executed work says otherwise.  A call site stays
    only where an interleaved same-session A/B at sf0.1 shows it pays: the
    materialized form wins at least 9 of 10 pairs and its median wall time
    is lower by more than the inline form's IQR.  The sites that meet the
    rule, with their numbers, are the keep table in PERF_NOTES.md, and
    ``tests/test_materialize_keep.py`` pins the call sites to it.  Every
    other query runs the same SQL builder as its DuckDB oracle.

    The view is rebuilt on every call, so nothing is reused across calls.
    ``key`` (pass the sf_dir) namespaces the view name with a short md5 so
    interleaved multi-sf sessions never see one dataset's rows under the
    other's name.  ``localCheckpoint`` keeps no replica and truncates the
    lineage, so use it only for bounded relations (grids, per-group
    aggregates, banded pair sets), never for corpus-sized ones."""
    import hashlib

    suffix = f"_{hashlib.md5(key.encode()).hexdigest()[:8]}" if key else ""
    name = f"sales_telegram_bot_data_pipeline_mat_{tag}{suffix}"
    spark.sql(sql_text).localCheckpoint().createOrReplaceTempView(name)
    return name


@contextmanager
def fixed_plan(spark: SparkSession, partitions: int = 8):
    """Static small plans for iterative loops and multi-materialization
    audit bodies (VERDICT r12 tasks 2/3).

    AQE materializes EVERY exchange as its own Spark job; a fixpoint loop
    or an audit that localCheckpoints four intermediates turns into 30-50
    jobs of ~0.1-0.3 s scheduler overhead each, dwarfing the actual work
    when the shuffled relations are bounded (parameter grids, per-query
    top-k sets, near-dup subsets).  Inside this gate, plans are fixed at
    planning time and shuffles are right-sized via ``partitions`` — the
    same discipline as ``scalars_extra.RANK_PARTITIONS_CONF``.  Join-side
    choices AQE would have made at runtime must be made statically by the
    caller (broadcast hints on constant-bounded sides, or an observed
    count as in the CC loop).  Corpus-scale scans should stay OUTSIDE the
    gate; deployments size ``partitions`` up with the gated relations'
    cardinality.  Restores both confs on exit."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shp)

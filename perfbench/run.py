"""End-to-end benchmark of the engine.

    python3 perfbench/run.py --workload relational_scan --seed 1 --seconds 26 --trace 0

Run from the root of a checkout.  One process, one Spark session from
``session.get_spark`` on every core, one client running a closed loop of
passes over the workload's items (see ``workloads.py``) on tables generated
from ``--seed`` (see ``datagen.py``).  Every execution is checked; a wrong
or failed item makes the run fail.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` passes alternate untraced and traced, and it carries the
per-layer metrics of the traced passes.  Each run also writes a result file
with provenance, per-item numbers and (traced) spans under
``.perfbench/results/``.  Scratch data, Spark local dirs and sink output go
to a fresh directory under ``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

import checks
import datagen
import probes
from tracing import PKG, Tracer
from workloads import WORKLOADS, Outcome

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "query_latency_p50_s": "s",
    "query_latency_p90_s": "s",
}
PER_LAYER = {
    "queries.import_s": "s",
    "session.get_spark_s": "s",
    "session.eager_jobs": "count",
    "session.eager_job_share": "1",
    "session.retained_rdds": "count",
    "retained_cache_mb": "MB",
    "operators.build_s": "s",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.broadcast_bytes": "bytes",
    "jvm.gc_s": "s",
    "sources.load_table_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows_per_result_row": "1",
    "python_worker.cpu_s": "s",
    "streaming.replay_s": "s",
    "streaming.jobs": "count",
    "revalidate.run_s": "s",
    "revalidate.jobs": "count",
    "sinks.kv.write_s": "s",
    "sinks.kv.rows": "count",
    "sinks.kv.bytes": "bytes",
    "sinks.webhook.send_s": "s",
    "sinks.webhook.batches": "count",
    "sinks.dataset.write_s": "s",
    "sinks.dataset.files": "count",
    "host.cpu_busy_pct": "%",
    "host.cpu_steal_pct": "%",
    "trace.pass_wall_s": "s",
    "trace.overhead_s": "s",
}
# counts that must repeat exactly between traced runs of the same code
# The first pass after set-up settles the JVM (its pass walls keep falling
# for the first minute); it is run and checked but left out of the metrics.
SETTLE_PASSES = 1
MIN_MEASURED_PASSES = 2
EXACT_COUNTS = (
    "eager_jobs", "jobs", "stages", "tasks", "result_rows", "scan_rows",
    "scan_bytes", "shuffle_write_bytes", "broadcast_bytes",
    "sinks.kv.rows", "sinks.kv.bytes", "sinks.webhook.batches", "sinks.dataset.files",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let Python workers import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [str(ROOT), str(Path(__file__).resolve().parent)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT)]


def git_head() -> str:
    """HEAD read from ``.git`` without running git (a benchmark checkout
    need not be a repository, and git would search parent directories)."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method, as statistics.quantiles)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Context:
    """What items see: the session, the data, fingerprint pins and checks."""

    def __init__(self, work: Path, sf_dir: str):
        from sales_telegram_bot_data_pipeline_spark import oracle

        self.work = work
        self.sf_dir = sf_dir
        self.spark = None
        self.canon_cell = oracle._canon_cell
        self.pins: dict[str, tuple] = {}
        self.counters: dict[str, int] = {}  # sink counts of the current item
        self._dirs = 0
        self._con = None
        self._expect: dict[tuple, dict] = {}

    @property
    def con(self):
        if self._con is None:
            from sales_telegram_bot_data_pipeline_spark.oracle import duckdb_connection

            self._con = duckdb_connection(self.sf_dir)
        return self._con

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        d = self.work / "out" / f"{kind}-{self._dirs}"
        d.mkdir(parents=True)
        return str(d)

    def fingerprint(self, columns, rows) -> tuple:
        return checks.fingerprint(list(columns), rows, self.canon_cell)

    def pin(self, name: str, fp: tuple, rows: int) -> Outcome:
        expected = self.pins.setdefault(name, fp)
        if fp == expected:
            return Outcome(True, "", rows)
        return Outcome(False, f"fingerprint {fp[:1]}/{fp[2]:x} != {expected[:1]}/{expected[2]:x}", rows)

    def revalidation_expectation(self, day: str, flag_sql: str) -> dict:
        key = (day, flag_sql)
        if key not in self._expect:
            self._expect[key] = checks.revalidation_expectation(self.con, day, flag_sql)
        return self._expect[key]

    def close(self):
        if self._con is not None:
            self._con.close()


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.tracer = Tracer()
        self.ctx: Context | None = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.eager_items: set[str] = set()
        self.setup_items: dict[str, float] = {}
        self.import_s = self.get_spark_s = 0.0
        self.jvm = None
        self.worker_pids: set[int] = set()

    # ---------------------------------------------------------------- items
    def _run_item(self, item, traced: bool) -> tuple[float, dict]:
        """Execute one item; returns (latency seconds, record).  Checks and
        counters are read after the timed region."""
        ctx, spark, tr = self.ctx, self.ctx.spark, self.tracer
        ctx.counters = {}
        rec: dict = {"item": item.name}
        self.attempted += 1
        try:
            with tr.span(item.name, "item"):
                j0 = probes.next_job_id(spark)
                t0 = time.perf_counter()
                with tr.span("build", item.layer):
                    built = item.build(ctx)
                t1 = time.perf_counter()
                j1 = probes.next_job_id(spark)
                with tr.span("execute", item.exec_layer):
                    result = item.execute(ctx, built)
                t2 = time.perf_counter()
                j2 = probes.next_job_id(spark)
            outcome = item.check(ctx, built, result)
        except Exception as e:  # an item failure is a result, not a crash
            rec.update(ok=False, detail=f"{type(e).__name__}: {str(e)[:500]}")
            self.failures.append(rec)
            print(f"[perfbench] FAIL {item.name}: {rec['detail']}", file=sys.stderr)
            return float("nan"), rec
        rec.update(
            ok=outcome.ok, build_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0,
            eager_jobs=j1 - j0, result_rows=outcome.rows,
        )
        if not outcome.ok:
            rec["detail"] = outcome.detail
            self.failures.append(rec)
            print(f"[perfbench] FAIL {item.name}: {outcome.detail}", file=sys.stderr)
        if traced:
            self._count(item, built, j0, j2, rec)
        rec.update(ctx.counters)
        return t2 - t0, rec

    def _count(self, item, built, j0: int, j2: int, rec: dict) -> None:
        from pyspark.sql import DataFrame

        spark = self.ctx.spark
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        rec.update(probes.job_counts(spark, j0, j2))
        if isinstance(built, DataFrame) and item.exec_layer == "exec":
            rec.update({f"catalyst.{k}_ms": v for k, v in probes.catalyst_ms(built).items()})
            rec.update(probes.plan_metrics(built))

    def _warm(self, items) -> dict[str, float]:
        """The set-up's execution of every item; returns the latency of each
        item that passed.  Items with a DuckDB oracle are pinned to the
        oracle's fingerprint first, so this execution is checked like every
        later one.  ``oracle.compare_query`` then runs once per query item,
        outside the timed region, for its declared-type check."""
        from sales_telegram_bot_data_pipeline_spark.oracle import compare_query

        ctx, per_item = self.ctx, {}
        for item in items:
            sql = item.oracle or item.sink_oracle
            if sql is not None:
                ctx.pins[item.name] = checks.oracle_fingerprint(ctx.con, sql, ctx.canon_cell)
            latency, rec = self._run_item(item, traced=False)
            if rec["ok"]:
                per_item[item.name] = latency
            if item.oracle is not None:
                self.attempted += 1
                try:
                    res = compare_query(ctx.spark, ctx.con, item.name, ctx.sf_dir)
                    ok, detail = res.ok, res.detail
                except Exception as e:  # an item failure is a result, not a crash
                    ok, detail = False, f"{type(e).__name__}: {str(e)[:500]}"
                if not ok:
                    self.failures.append({"item": item.name, "ok": False, "detail": detail})
                    print(f"[perfbench] ORACLE FAIL {item.name}: {detail}", file=sys.stderr)
            gc.collect()
        return per_item

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        args = self.args
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        sf_dir = datagen.write_tables(args.seed, str(self.work / "data"))

        # set-up: process start to ready, i.e. registry import, session and
        # one execution of every item (codegen, session views, broadcasts)
        host0 = probes.host_cpu()
        t = time.perf_counter()
        import sales_telegram_bot_data_pipeline_spark.queries  # noqa: F401  (fills the registry)
        self.import_s = time.perf_counter() - t
        from sales_telegram_bot_data_pipeline_spark.session import get_spark

        items = WORKLOADS[args.workload](args.seed)
        self.ctx = Context(self.work, sf_dir)
        t = time.perf_counter()
        self.ctx.spark = get_spark()
        self.get_spark_s = time.perf_counter() - t
        self.jvm = probes.jvm_pid(self.ctx.spark)
        self.setup_items = self._warm(items)
        setup_s = self.import_s + self.get_spark_s + sum(self.setup_items.values())
        print(f"[perfbench] setup {setup_s:.2f} s", file=sys.stderr)

        # timed passes: a closed loop, one item at a time, in a seeded order
        if args.trace:
            self.tracer.install()
        rng = random.Random(f"{args.workload}-{args.seed}")
        passes: list[dict] = []
        t_start = time.perf_counter()
        host1 = probes.host_cpu()
        while True:
            measured = len(passes) - SETTLE_PASSES
            traced = bool(args.trace) and measured >= 0 and measured % 2 == 1
            passes.append(self._pass(items, rng, traced))
            passes[-1]["settle"] = measured < 0
            elapsed = time.perf_counter() - t_start
            if measured + 1 >= MIN_MEASURED_PASSES and elapsed + passes[-1]["wall_s"] > args.seconds:
                break
        host2 = probes.host_cpu()
        self.tracer.uninstall()
        self.worker_pids.update(probes.python_worker_pids(self.jvm))
        retained = probes.storage(self.ctx.spark)
        return self._summarize(items, setup_s, passes, probes.host_pct(host0, host2),
                               probes.host_pct(host1, host2), retained)

    def _pass(self, items, rng: random.Random, traced: bool) -> dict:
        spark = self.ctx.spark
        order = list(items)
        rng.shuffle(order)
        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        gc0, py0, host0 = probes.gc_seconds(spark), probes.python_worker_cpu_s(self.jvm), probes.host_cpu()
        latencies, records = [], []
        for item in order:
            latency, rec = self._run_item(item, traced)
            if rec.get("ok"):
                latencies.append(latency)
            # set-up is left out: a table's first load_table reads parquet
            # footers in a Spark job, once per session
            if rec.get("eager_jobs") and self.args.workload == "relational_scan":
                self.eager_items.add(item.name)
            records.append(rec)
            gc.collect()
        self.tracer.enabled = False
        out = {
            "traced": traced,
            "wall_s": sum(latencies),
            "latencies": latencies,
            "records": records,
            "first_span": first_span,
            "last_span": len(self.tracer.spans),
        }
        if traced:
            out["gc_s"] = probes.gc_seconds(spark) - gc0
            out["python_worker_cpu_s"] = probes.python_worker_cpu_s(self.jvm) - py0
            out["host"] = probes.host_pct(host0, probes.host_cpu())
        return out

    # ------------------------------------------------------------ summary
    def _layers(self, p: dict, items) -> dict[str, float]:
        """Per-layer metrics of one traced pass."""
        spans = self.tracer.spans[p["first_span"]:p["last_span"]]
        by_item = {i.name: i for i in items}
        m = {k: 0.0 for k in PER_LAYER}
        item_of: dict[int, str] = {}
        for s in spans:
            if s["layer"] == "item":
                item_of[s["id"]] = s["name"]
        for s in spans:
            d = s["end"] - s["start"]
            owner = by_item.get(item_of.get(s["parent"], ""))
            if s["layer"] == "sources":
                m["sources.load_table_s"] += d
            elif s["layer"] == "sinks.kv":
                m["sinks.kv.write_s"] += d
            elif s["layer"] == "sinks.webhook":
                m["sinks.webhook.send_s"] += d
            elif owner is None:
                continue
            elif s["name"] == "build":
                key = "streaming.replay_s" if owner.layer == "streaming" else "operators.build_s"
                m[key] += d
            elif s["name"] == "execute":
                key = {"exec": "exec.collect_s", "sinks.dataset": "sinks.dataset.write_s",
                       "revalidate": "revalidate.run_s"}[owner.exec_layer]
                m[key] += d
        result_rows = 0
        for rec in p["records"]:
            item = by_item[rec["item"]]
            m["session.eager_jobs"] += rec.get("eager_jobs", 0)
            m["exec.jobs"] += rec.get("jobs", 0)
            m["exec.stages"] += rec.get("stages", 0)
            m["exec.tasks"] += rec.get("tasks", 0)
            for k in ("parsing", "analysis", "optimization", "planning"):
                m[f"catalyst.{k}_ms"] += rec.get(f"catalyst.{k}_ms", 0.0)
            m["exec.shuffle_write_bytes"] += rec.get("shuffle_write_bytes", 0)
            m["exec.broadcast_bytes"] += rec.get("broadcast_bytes", 0)
            m["sources.scan_rows"] += rec.get("scan_rows", 0)
            m["sources.scan_bytes"] += rec.get("scan_bytes", 0)
            for k in ("sinks.kv.rows", "sinks.kv.bytes", "sinks.webhook.batches", "sinks.dataset.files"):
                m[k] += rec.get(k, 0)
            if item.layer == "streaming":
                m["streaming.jobs"] += rec.get("eager_jobs", 0)
            if item.exec_layer == "revalidate":
                m["revalidate.jobs"] += rec.get("jobs", 0) - rec.get("eager_jobs", 0)
            if item.exec_layer == "exec":
                result_rows += rec.get("result_rows", 0)
        m["session.eager_job_share"] = m["session.eager_jobs"] / max(m["exec.jobs"], 1)
        m["sources.scan_rows_per_result_row"] = m["sources.scan_rows"] / max(result_rows, 1)
        m["jvm.gc_s"] = p["gc_s"]
        m["python_worker.cpu_s"] = p["python_worker_cpu_s"]
        m["host.cpu_busy_pct"] = p["host"]["cpu_busy_pct"]
        m["host.cpu_steal_pct"] = p["host"]["cpu_steal_pct"]
        m["trace.pass_wall_s"] = p["wall_s"]
        return m

    def _summarize(self, items, setup_s, passes, host_run, host_timed, retained) -> dict:
        timed = [p for p in passes if not p["traced"] and not p["settle"]]
        samples = [x for p in timed for x in p["latencies"]]
        p90 = percentile(samples, 90) if samples else float("nan")
        e2e = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(p["wall_s"] for p in timed),
            "query_latency_p50_s": statistics.median(samples) if samples else float("nan"),
            "query_latency_p90_s": p90,
        }
        retained_rdds, retained_mb = retained
        failed = len(self.failures)
        result = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "failed_ratio": failed / max(self.attempted, 1),
            "end_to_end": e2e,
            "samples": len(samples),
            "samples_beyond_p90": sum(1 for x in samples if x > p90),
            "passes": len(timed),
            "pass_walls_s": [p["wall_s"] for p in passes],
            "setup_item_s": self.setup_items,
            "retained_cache_mb": retained_mb,
            "host": host_run,
            "failures": self.failures,
            "relational_scan_items_with_eager_jobs": sorted(self.eager_items),
            "items": [i.name for i in items],
            "per_item_latency_s": self._per_item([r for p in timed for r in p["records"]]),
        }
        if self.args.trace:
            traced = [p for p in passes if p["traced"]]
            layers = [self._layers(p, items) for p in traced]
            per_layer = {k: statistics.median(m[k] for m in layers) for k in PER_LAYER}
            per_layer.update({
                "queries.import_s": self.import_s,
                "session.get_spark_s": self.get_spark_s,
                "session.retained_rdds": retained_rdds,
                "retained_cache_mb": retained_mb,
                "host.cpu_busy_pct": host_timed["cpu_busy_pct"],
                "host.cpu_steal_pct": host_timed["cpu_steal_pct"],
                "trace.overhead_s": per_layer["trace.pass_wall_s"] - e2e["pass_wall_s"],
            })
            result["per_layer"] = per_layer
            counts = [
                {r["item"]: {k: r[k] for k in EXACT_COUNTS if k in r} for r in p["records"]}
                for p in traced
            ]
            result["counts_per_item"] = counts[0]
            result["counts_repeat_across_passes"] = all(c == counts[0] for c in counts)
            if not result["counts_repeat_across_passes"]:
                result["counts_per_pass"] = counts
            result["layer_self_s"] = self.tracer.self_times()
            result["spans"] = self.tracer.spans
        return result

    @staticmethod
    def _per_item(records: list[dict]) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for r in records:
            if r.get("ok"):
                by.setdefault(r["item"], []).append(r["latency_s"])
        return {k: statistics.median(v) for k, v in sorted(by.items())}

    # ------------------------------------------------------------ teardown
    def provenance(self) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        spark = self.ctx.spark if self.ctx else None
        conf = {}
        if spark is not None:
            for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                      "spark.sql.autoBroadcastJoinThreshold", "spark.master"):
                conf[k] = spark.conf.get(k, None)
        return {
            "git_head": git_head(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "nproc": len(os.sched_getaffinity(0)),
            "session_conf": conf,
            "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        }

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for its Python workers."""
        if self.ctx is None:
            return
        self.ctx.close()
        spark = self.ctx.spark
        if spark is None:
            return
        self.worker_pids.update(probes.python_worker_pids(self.jvm))
        self.worker_pids.update(probes.descendants(self.jvm))
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as e:  # the gateway may already be closed
            print(f"[perfbench] gateway shutdown: {e}", file=sys.stderr)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 15
        while self.worker_pids and time.time() < deadline:
            self.worker_pids = {p for p in self.worker_pids if probes.alive(p)}
            time.sleep(0.1)
        for p in self.worker_pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def report(result: dict) -> dict:
    """Human-readable metric lines on stdout, then the result line's dict."""
    names = PER_LAYER if result["trace"] else END_TO_END
    values = result["per_layer"] if result["trace"] else result["end_to_end"]
    for k, unit in names.items():
        print(f"{k:36s} {values[k]:>16.6f} {unit}")
    print(f"{'failed_ratio':36s} {result['failed_ratio']:>16.6f} 1")
    print(f"{'retained_cache_mb':36s} {result['retained_cache_mb']:>16.6f} MB")
    print(f"latency samples {result['samples']} over {result['passes']} passes, "
          f"{result['samples_beyond_p90']} beyond p90")
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"[perfbench] package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = STATE / f"run-{os.getpid()}-{time.time_ns()}"
    work.mkdir(parents=True)
    prepare_env(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
        result["provenance"] = bench.provenance()
        result["provenance"]["seed"] = args.seed
        result["provenance"]["host.cpu_steal_pct"] = result["host"]["cpu_steal_pct"]
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    out = STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    path.write_text(json.dumps(result, indent=1, default=str))
    line = report(result)
    print(f"[perfbench] result file {path.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps(line), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Closed-loop benchmark of the movies ETL engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_daily_load --seed 1 --seconds 18 --trace 0

One client drives one workload in a closed loop against the program's
public functions and checks every op's output against a pure-Python
SCD-1 model (``workloads.Scd1Model``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import pandas as pd  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("etl_daily_load", "cdc_micro_merge")
# Ops run once after the set-ups, before the timed loop.
WARMUP_OPS = {"etl_daily_load": 1, "cdc_micro_merge": 2}
SETUP_REPEATS = 3
MIN_OPS = 3
SPANS_DIR = ".perfbench_out"
# Per-layer metrics a workload may legitimately never touch.
ZERO_UNLESS_SEEN = (
    "sources.pages", "sources.rows", "self_s.sources",
    "spark.tasks.sources", "spark.executor_run_s.sources",
)
DRIVER_MEM = "2g"
# Tuning knobs of the program: never set by the benchmark, and cleared
# from the caller's environment so that a change of their defaults is
# what gets measured.
TUNING_ENV = (
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_PREFER_SMJ",
    "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the movies ETL engine.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def deploy_env(run_dir: Path) -> dict[str, str]:
    """Pin deployment settings only: cores, heap, and where files go.

    Returns the session overrides for ``get_spark``."""
    for knob in TUNING_ENV:
        os.environ.pop(knob, None)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM takes its options from here, not from the conf.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def fetch_schema(day: int):
    """Record schema the ETL declares to the source on ``day``."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType
    from the_movies_db_spark.sources.rest_api import MOVIE_SCHEMA

    if day < W.DRIFT_DAY:
        return MOVIE_SCHEMA
    return StructType([*MOVIE_SCHEMA.fields, StructField(W.DRIFT_FIELD, ArrayType(StringType()))])


def table_schema():
    """Schema of the movies table after the clean step."""
    from pyspark.sql.types import DateType, StructField, StructType, TimestampType
    from the_movies_db_spark.sources.rest_api import MOVIE_SCHEMA

    fields = [
        StructField(f.name, DateType()) if f.name == "release_date" else f
        for f in MOVIE_SCHEMA.fields
    ]
    return StructType([*fields, StructField("record_loaded_at", TimestampType())])


class Bench:
    """One run: the session, the table under test and its expected state."""

    def __init__(self, args: argparse.Namespace, run_dir: Path, overrides: dict):
        self.workload = args.workload
        self.run_dir = run_dir
        self.overrides = overrides
        self.excluded_s = 0.0  # input generation and output checks
        self.failures: list[str] = []
        self.tracer: T.NullTracer | T.Tracer = T.NullTracer()
        self.spark = None
        self.table: str | None = None
        self.model: W.Scd1Model | None = None
        self.last_schema = None  # table schema at the previous check
        self.next_op = 0
        self.api = self.untimed(W.MovieApi, args.seed)
        base = self.api.base_records()
        self.base_pdf = self.untimed(lambda: pd.DataFrame.from_records(base, columns=W.FIELDS))
        self.base_model = self.untimed(W.Scd1Model, base)

    def untimed(self, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.excluded_s += time.perf_counter() - t

    def _input(self):
        """Next op's index, program input and records for the model."""
        i = self.next_op
        self.next_op += 1
        if self.workload == "etl_daily_load":
            pages = self.api.day_pages(i)
            return i, pages, list(W.day_records(pages))
        rows = self.api.cdc_batch(i)
        return i, self.spark.createDataFrame(rows, table_schema()), rows

    # -- set-up ---------------------------------------------------------------
    def setup(self, rep: int) -> dict[str, float]:
        """One set-up: a new session and a fresh table holding the base load.

        Returns wall seconds per phase, input generation excluded."""
        from the_movies_db_spark import get_spark
        from the_movies_db_spark.sources.rest_api import MOVIE_SCHEMA, clean_movies
        from the_movies_db_spark.upsert import write_upsert

        t0, x0 = time.perf_counter(), self.excluded_s
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", **self.overrides)
        self.spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        if self.table is not None:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = str(self.run_dir / f"movies_{rep}")
        base_df = self.spark.createDataFrame(self.base_pdf, MOVIE_SCHEMA)
        write_upsert(self.spark, self.table, clean_movies(base_df), "id")
        t_base = time.perf_counter()
        self.model = self.base_model.copy()
        self.last_schema = None
        return {"session": t_session - t0, "base_load": t_base - t_session - (self.excluded_s - x0)}

    def warm_up(self) -> float:
        """Run the untimed warm-up ops; returns their wall time, checks excluded."""
        t0, x0 = time.perf_counter(), self.excluded_s
        for _ in range(WARMUP_OPS[self.workload]):
            self.run_op(traced=False)
        return time.perf_counter() - t0 - (self.excluded_s - x0)

    # -- ops --------------------------------------------------------------------
    def run_op(self, traced: bool) -> float:
        """Run and check one op; returns its latency. A raised error or a
        wrong output is recorded in ``self.failures``."""
        i, data, records = self.untimed(self._input)
        tr = self.tracer if traced else T.NullTracer()
        failed_before = len(self.failures)
        t0 = time.perf_counter()
        try:
            with tr.span("op", i):
                if self.workload == "etl_daily_load":
                    self._etl_op(tr, i, data)
                else:
                    self._cdc_op(tr, i, data)
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            self.failures.append(f"op {i}: {type(exc).__name__}: {exc}")
        latency = time.perf_counter() - t0
        try:
            with tr.span("check", i):
                self.untimed(self._check, tr, i, records, len(self.failures) == failed_before)
        except Exception as exc:  # noqa: BLE001 — an unreadable table fails the op
            self.failures.append(f"op {i}: check {type(exc).__name__}: {exc}")
        return latency

    def _etl_op(self, tr, day: int, pages) -> None:
        """One day of the reference DAG: fetch → clean → upsert."""
        from the_movies_db_spark.sources.rest_api import clean_movies, fetch_all_endpoints
        from the_movies_db_spark.upsert import write_upsert

        transport = W.FixturePages(pages)
        with tr.span("sources", day):
            df = fetch_all_endpoints(self.spark, transport, schema=fetch_schema(day))
        with tr.span("upsert", day):
            write_upsert(self.spark, self.table, clean_movies(df).drop("endpoint"), "id")
        tr.count("sources.pages", transport.calls)

    def _cdc_op(self, tr, op: int, batch_df) -> None:
        """One change batch through the streaming sink, no stream around it."""
        from the_movies_db_spark.streaming.events import foreach_batch_upsert

        with tr.span("upsert", op):
            foreach_batch_upsert(self.table, "id", "record_loaded_at")(batch_df, op)

    def _check(self, tr, i: int, records: list[dict], ran: bool) -> None:
        """Compare the committed table with the model after op ``i``."""
        from pyspark.sql import functions as F
        from the_movies_db_spark.schema_evolution import check_schema_drift
        from the_movies_db_spark.sources.rest_api import clean_movies
        from the_movies_db_spark.upsert import list_versions, read_table, table_data_path

        counts = self.model.apply(records)
        want = self.model.expected(stamped=counts["inserted"] + counts["changed"])
        if not ran:
            return
        with tr.span("io", i):
            table = read_table(self.spark, self.table)
            groups = (
                table.groupBy("record_loaded_at")
                .agg(F.count("*").alias("n"), F.sum("vote_count").alias("v"))
                .collect()
            )
        got = {
            "rows": sum(g["n"] for g in groups),
            "vote_sum": sum(g["v"] for g in groups),
            "stamped": max(groups, key=lambda g: g["record_loaded_at"])["n"],
        }
        missing = sorted(self.model.columns - set(table.columns))
        if got != want or missing:
            self.failures.append(f"op {i}: got {got}, want {want}, missing columns {missing}")
        if self.workload == "etl_daily_load" and isinstance(self.tracer, T.Tracer):
            # Counted on every timed op of a traced run, so the drift day is
            # seen whichever ops the run traces.
            incoming = clean_movies(self.spark.createDataFrame([], fetch_schema(i))).schema
            drift = check_schema_drift(incoming, self.last_schema)
            self.tracer.count("schema_evolution.drift_cols", len(drift.columns_to_add))
            tr.count("sources.rows", counts["batch_rows"])
        self.last_schema = table.schema
        data = Path(table_data_path(self.table))
        tr.count("upsert.batch_rows", counts["batch_rows"])
        tr.count("upsert.rows_inserted", counts["inserted"])
        tr.count("upsert.rows_changed", counts["changed"])
        tr.count("upsert.noop_suppressed", counts["noop"])
        tr.count("upsert.rows_written", got["rows"])
        tr.count("upsert.bytes_written", sum(f.stat().st_size for f in data.iterdir()))
        tr.count("upsert.versions_retained", len(list_versions(self.table)))

    # -- JVM ------------------------------------------------------------------
    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_retained_mb(self) -> float:
        """Heap used after two forced full GCs, plus non-heap used."""
        jvm = self.spark._jvm.java.lang
        jvm.System.gc()
        jvm.System.gc()
        mx = jvm.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        return used / 2**20

    def close(self) -> None:
        """Stop the session and the JVM gateway process, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def summarize_trace(tr: T.Tracer, by_span: dict[int, dict], traced: list[float],
                    untraced: list[float], cores: int) -> dict[str, float]:
    """Per-layer metrics, per traced op unless the name says otherwise."""
    n = len(traced)
    out = dict.fromkeys(ZERO_UNLESS_SEEN, 0.0)
    out.update({name: v / n for name, v in tr.counts.items()})
    out["schema_evolution.drift_cols"] = tr.counts.get("schema_evolution.drift_cols", 0.0)
    if out.get("upsert.batch_rows"):
        out["upsert.write_amplification"] = out["upsert.rows_written"] / out["upsert.batch_rows"]
    for layer, secs in tr.self_times().items():
        out[f"self_s.{layer}"] = secs / n
    layer_s: dict[str, float] = {}
    for s in tr.spans:
        layer_s[s["name"]] = layer_s.get(s["name"], 0.0) + s["end"] - s["start"]
    out["sources.fetch_s"] = layer_s.get("sources", 0.0) / n
    out["upsert.write_s"] = layer_s.get("upsert", 0.0) / n
    out["io.read_table_s"] = layer_s.get("io", 0.0) / n
    totals: dict[str, float] = {}
    for span_id, work in by_span.items():
        layer = tr.spans[span_id]["name"]
        out[f"spark.tasks.{layer}"] = out.get(f"spark.tasks.{layer}", 0.0) + work["tasks"] / n
        out[f"spark.executor_run_s.{layer}"] = (
            out.get(f"spark.executor_run_s.{layer}", 0.0) + work["executor_run_s"] / n
        )
        if tr.root_of(span_id)["name"] != "op":
            continue
        for k, v in work.items():
            if k == "peak_exec_mem_mb":
                totals[k] = max(totals.get(k, 0.0), v)
            else:
                totals[k] = totals.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
              "executor_run_s", "executor_cpu_s", "jvm_gc_s"):
        out[f"spark.{k}"] = totals.get(k, 0.0) / n
    out["spark.peak_exec_mem_mb"] = totals.get("peak_exec_mem_mb", 0.0)
    out["spark.core_busy_frac"] = totals.get("executor_run_s", 0.0) / (sum(traced) * cores)
    out["trace.ops_per_s_traced"] = n / sum(traced)
    out["trace.ops_per_s_untraced"] = len(untraced) / sum(untraced)
    out["trace.overhead_frac"] = out["trace.ops_per_s_untraced"] / out["trace.ops_per_s_traced"] - 1
    return out


def run(args: argparse.Namespace, run_dir: Path, overrides: dict) -> int:
    loadavg = os.getloadavg()[0]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    bench = Bench(args, run_dir, overrides)
    setups = []
    try:
        for rep in range(SETUP_REPEATS):
            phases = bench.setup(rep)
            if rep == 0:  # the first set-up also pays interpreter start and imports
                phases["session"] += (
                    time.perf_counter() - PROCESS_START
                    - sum(phases.values()) - bench.excluded_s
                )
            setups.append(phases)
        warmup_s = bench.warm_up()
        if args.trace:
            bench.tracer = T.Tracer(bench.spark.sparkContext)
        jvm = bench.jvm_pid()
        cpu0 = T.proc_cpu_s(jvm) + T.proc_cpu_s(os.getpid())
        host0 = T.host_counters()
        traced, untraced = [], []
        failed_ops = 0
        while sum(traced) + sum(untraced) < args.seconds or len(traced) + len(untraced) < MIN_OPS:
            # The traced run interleaves traced and untraced ops as ABBA, so
            # both halves see the same table sizes and warm-up trend; the
            # difference is the tracing overhead.
            trace_this = bool(args.trace) and (len(traced) + len(untraced)) % 4 in (0, 3)
            failures_before = len(bench.failures)
            (traced if trace_this else untraced).append(bench.run_op(traced=trace_this))
            failed_ops += len(bench.failures) > failures_before
        steal = T.steal_frac(host0, T.host_counters())
        cpu = T.proc_cpu_s(jvm) + T.proc_cpu_s(os.getpid()) - cpu0
        latencies = traced + untraced
        tail = W.tail_percentile(len(latencies))
        quality = {
            "host.steal_frac": steal,
            "host.loadavg_start": loadavg,
            "host.nproc": os.cpu_count(),
            "process.cpu_s_per_op": cpu / len(latencies),
            "jvm.rss_peak_mb": T.vm_hwm_mb(jvm),
            "ops": len(latencies),
            "op_latencies_s": latencies,
            "excluded_s": bench.excluded_s,
            "wall_s": time.perf_counter() - PROCESS_START,
            "tail_percentile": tail,
            "op_tail_s": None if tail is None else W.percentile(latencies, tail),
            "setup_phases_s": setups,
            "warmup_s": warmup_s,
        }
        if args.trace:
            metrics = summarize_trace(
                bench.tracer, T.spark_work_by_span(bench.spark.sparkContext),
                traced, untraced, cores,
            )
            for phase, key in (("session", "session.get_spark_s"),
                               ("base_load", "upsert.base_load_s")):
                metrics[key] = statistics.median(s[phase] for s in setups)
            metrics["warmup_s"] = warmup_s
            metrics["process.cpu_s_per_op"] = cpu / len(latencies)
            metrics["jvm.rss_peak_mb"] = quality["jvm.rss_peak_mb"]
            metrics["host.steal_frac"] = steal
            spans = ROOT / SPANS_DIR / f"{args.workload}-seed{args.seed}.json"
            spans.parent.mkdir(exist_ok=True)
            bench.tracer.dump(str(spans))
            quality["spans"] = str(spans.relative_to(ROOT))
        else:
            metrics = {
                "setup_s": statistics.median(sum(s.values()) for s in setups),
                "op_p50_s": statistics.median(latencies),
                "ops_per_s": len(latencies) / sum(latencies),
                "jvm_retained_mb": bench.jvm_retained_mb(),
                "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            }
    finally:
        bench.close()
    for f in bench.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"run_quality": quality}))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": len(latencies),
        "failed": failed_ops,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # A TERM (a caller's timeout) unwinds through the finally blocks, so
    # the JVM is stopped and the scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "the_movies_db_spark").is_dir():
        print(f"perfbench: no the_movies_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = ROOT / ".perfbench_run" / str(os.getpid())
    run_dir.mkdir(parents=True)
    try:
        return run(args, run_dir, deploy_env(run_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

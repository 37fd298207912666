"""The benchmark's workloads.  Each drives the engine only through its
public functions and times every call from outside:

- ``headline``: the 16 bench-flagged registry queries, in ``bench.py``'s
  pinned order, on the fixed lake under ``perfbench/lake``.  One timed
  operation = ``Engine.query`` + noop write + ``Engine.release``.
- ``etl_daily``: consecutive days of seeded OWM payloads loaded into one
  warehouse by ``run_weather_pipeline``, each followed by a replay of
  the same day (the idempotent no-op path).

Both are closed loops: one client, one session at ``local[nproc]``.
A workload fills ``run.units`` with its timed units (and their spans in
a traced run), records failed operations and wrong answers on ``run``,
and returns its own extra figures; ``run.py`` reduces them to metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import sys
import time
from dataclasses import dataclass, field

import inputs
import reducers
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAKE = os.path.join(HERE, "lake", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# bench.py's pinned execution order (it keeps the list inside main()).
HEADLINE = [
    "flagship_weather_join", "q1_pricing_summary", "join_inner_3way_topk",
    "join_5way_star", "join_asof_events_orders", "window_topk_per_group",
    "events_tumbling_hour", "events_sessionize", "streaming_tumbling_hour",
    "dedup_minhash_lsh", "dedup_token_jaccard", "ann_cosine_topk",
    "text_token_stats", "corpus_dsir_weights", "corpus_loader_pipeline",
    "etl_scd2_apply",
]
# dedup, ANN, text and corpus queries; the rest are relational or ETL
LLM = {"dedup_minhash_lsh", "dedup_token_jaccard", "ann_cosine_topk",
       "text_token_stats", "corpus_dsir_weights", "corpus_loader_pipeline"}

ETL_CITIES = 72        # above http_json_source's 64-URL driver-fetch cap


@dataclass
class Unit:
    """One repetition of a workload's timed operations."""
    traced: bool
    wall: float
    ops: dict[str, float]                  # op name -> latency (s)
    span: dict | None = None
    catalyst: list = field(default_factory=list)
    batches: list = field(default_factory=list)
    persists: int = 0
    extra: dict = field(default_factory=dict)


class Run:
    """Session, tracer, clocks and check bookkeeping of one invocation."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 run_dir: str, log_path: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.log_path = log_path
        self.tracer = tracing.Tracer(trace, f"{os.getpid()}-{seed}")
        self.attempted = 0
        self.failures: list[str] = []
        self.units: list[Unit] = []
        self.info: dict = {}
        self.spark = None
        self.listeners = None
        self.t_start = 0.0
        self.setup_s = 0.0
        self.session_s = 0.0          # time in get_spark
        self.register_s = 0.0         # time registering the inputs
        self.rss_mb = 0.0
        self.event_dir = ""

    # -- session -------------------------------------------------------
    def session(self):
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark import (  # noqa: E501
            get_spark,
        )

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "sql-wh"),
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                "-Dlog4j2.configurationFile=file:"
                + os.path.join(HERE, "log4j2.properties"),
                f"-Dperfbench.log={self.log_path}"]),
        }
        if self.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + self.event_dir,
                          "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        with self.tracer.span("get_spark", "session"):
            self.spark = get_spark("perfbench", extra_confs=confs)
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.listeners = tracing.install_listeners(self.spark)
        return self.spark

    def drain(self):
        """Wait until Spark's listener bus has delivered every event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) / 1024.0

    def close(self):
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # -- clocks and checks --------------------------------------------
    def setup_done(self):
        self.setup_s = time.perf_counter() - self.t_start

    def check(self, ok: bool, what: str):
        """A wrong answer counts as a failure of its operation."""
        if not ok:
            self.failures.append(what)

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"{what}: {type(e).__name__}: {e}")
            print(f"# error in {what}: {e}", file=sys.stderr)
            return None

    def timed_loop(self, unit_fn, traced_min: int = 2):
        """Repeat ``unit_fn(traced)`` for ``seconds``.  A traced run
        interleaves untraced and traced units (U T T U U T T U ...: each
        kind gets as many early, colder units as the other), at least
        ``traced_min`` in all, so it can compare spans with untraced
        latencies."""
        from bench import _cpu_times, _steal_pct

        c0 = _cpu_times()
        t0 = time.perf_counter()
        k = 0
        while True:
            traced = self.trace and k % 4 in (1, 2)
            self.tracer.enabled = traced
            if self.trace:      # every unit of a traced run starts drained
                self.drain()
            unit = unit_fn(traced)
            self.units.append(unit)
            k += 1
            if (time.perf_counter() - t0 >= self.seconds
                    and (not self.trace or k >= traced_min)):
                break
        self.tracer.enabled = self.trace
        self.info["steal_pct"] = _steal_pct(c0, _cpu_times())
        self.info["measured_s"] = round(time.perf_counter() - t0, 3)

    def traced_unit(self, traced: bool, name: str, body) -> Unit:
        """Time ``body(unit)`` as one unit; when traced, also keep its
        span and the listener events it caused."""
        cat0 = bat0 = 0
        if traced:
            cat0 = len(self.listeners[0].events)
            bat0 = len(self.listeners[1].batches)
        unit = Unit(traced=traced, wall=0.0, ops={})
        t0 = time.perf_counter()
        with self.tracer.span(name, "bench") as s:
            body(unit)
        unit.wall = time.perf_counter() - t0
        if traced:
            self.drain()
            unit.span = s
            unit.catalyst = self.listeners[0].events[cat0:]
            unit.batches = self.listeners[1].batches[bat0:]
        return unit


# ---------------------------------------------------------------- headline

def _query(run: Run, eng, name: str) -> tuple[float, int]:
    """One timed headline operation: build, materialize, release."""
    tr = run.tracer
    with tr.span(name, "engine"):
        t0 = time.perf_counter()
        with tr.span("build", "plans") as b:
            df = eng.query(name)
        with tr.span("materialize", "spark", terminal=True):
            df.write.format("noop").mode("overwrite").save()
        with tr.span("release", "operators.cache"):
            n = eng.release()
        dt = time.perf_counter() - t0
    if tr.enabled:
        b["analysis_s"] = tracing.phases(df._jdf.queryExecution()).get(
            "analysis", 0.0)
    return dt, n


def headline(run: Run) -> dict:
    sys.path.insert(0, ROOT)
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.engine import (  # noqa: E501
        Engine,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E501
        bench_queries,
    )

    if set(HEADLINE) != set(bench_queries()):
        raise RuntimeError("bench.py's query set changed; update HEADLINE")
    with open(FINGERPRINTS) as f:
        expected = json.load(f)["headline"]
    run.info["inputs"] = {"lake": os.path.relpath(LAKE, ROOT),
                          **inputs.lake_size(LAKE)}

    def collect(name: str):
        df = eng.query(name)
        rows = df.collect()
        eng.release()
        return df.columns, rows

    run.t_start = time.perf_counter()
    with run.tracer.span("setup", "bench"):
        spark = run.session()
        t0 = time.perf_counter()
        with run.tracer.span("Engine", "sources"):
            eng = Engine(sf_dir=LAKE, spark=spark)
        run.register_s = time.perf_counter() - t0
        # The warm-up pass materializes each query by collecting it, so
        # the same execution yields the rows the check below compares.
        with run.tracer.span("warmup", "bench"):
            answers = {name: run.attempt(name, collect, name)
                       for name in HEADLINE}
    run.setup_done()

    # correctness, off every clock: fingerprint the warm-up's rows
    for name, got in answers.items():
        if got is not None:
            fp = reducers.fingerprint(*got)
            run.check(fp == expected[name]["fingerprint"],
                      f"{name}: fingerprint {fp} != "
                      f"{expected[name]['fingerprint']}")
    del answers

    def unit(traced: bool) -> Unit:
        def body(u: Unit):
            for name in HEADLINE:
                out = run.attempt(name, _query, run, eng, name)
                if out is not None:
                    u.ops[name], n = out
                    u.persists += n
        return run.traced_unit(traced, "pass", body)

    # two passes of each kind: per-query medians for the span check
    run.timed_loop(unit, traced_min=4)

    return {}


# ---------------------------------------------------------------- etl_daily

def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]


def etl_daily(run: Run) -> dict:
    sys.path.insert(0, ROOT)
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E501
        release_persisted,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans import (  # noqa: E501
        pipeline_run,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.reference_pipeline import (  # noqa: E501
        CITY_LOOKUP_SCHEMA,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources import (  # noqa: E501
        warehouse,
    )

    # inputs from the seed, before the set-up clock starts
    seed, n = run.seed, ETL_CITIES
    rows = inputs.cities(seed, n)
    out_dir = os.path.join(run.run_dir, "etl")
    wh_path = os.path.join(out_dir, "warehouse", "final_weather_data")
    run.info["inputs"] = {"cities_per_day": n, "lookup_rows": len(rows),
                          "payload_bytes_per_day": inputs.day_bytes(seed, 0,
                                                                    rows)}

    def urls(day: int) -> list[str]:
        return [inputs.url(seed, day, i, c[0]) for i, c in enumerate(rows)]

    run.t_start = time.perf_counter()
    with run.tracer.span("setup", "bench"):
        spark = run.session()
        spark.sparkContext.addPyFile(os.path.join(HERE, "inputs.py"))
        calls = spark.sparkContext.accumulator(0)
        fetcher = inputs.OfflineFetcher(calls)
        # the lookup is a local relation, like the pipeline's default
        t0 = time.perf_counter()
        with run.tracer.span("city_lookup", "sources"):
            lookup = spark.createDataFrame(rows, schema=CITY_LOOKUP_SCHEMA)
        run.register_s = time.perf_counter() - t0
        with run.tracer.span("warmup", "bench"):
            res = run.attempt("load day 0", pipeline_run.run_weather_pipeline,
                              spark, urls(0), out_dir, fetcher, lookup)
            release_persisted()
    run.setup_done()
    loaded = 1 if res is not None else 0
    results: list[tuple[str, object]] = [("load", res)]

    def op(kind: str, day: int, u: Unit):
        files0 = len(_files(wh_path))
        c0 = calls.value
        t0 = time.perf_counter()
        with run.tracer.span(kind, "engine"):
            with run.tracer.span("run_weather_pipeline", "plans"):
                out = run.attempt(f"{kind} day {day}",
                                  pipeline_run.run_weather_pipeline,
                                  spark, urls(day), out_dir, fetcher, lookup)
        dt = time.perf_counter() - t0
        u.persists += release_persisted()
        if out is not None:
            u.ops[kind] = dt
            u.extra[f"{kind}_calls"] = calls.value - c0
            u.extra[f"{kind}_new_files"] = len(_files(wh_path)) - files0
        results.append((kind, out))

    def unit(traced: bool) -> Unit:
        nonlocal loaded
        day = loaded
        loaded += 1

        def body(u: Unit):
            op("load", day, u)
            op("replay", day, u)
        return run.traced_unit(traced, "day", body)

    with contextlib.ExitStack() as stack:
        if run.trace:
            tr = run.tracer
            stack.enter_context(tracing.wrapped(
                pipeline_run, ["http_json_source", "write_single_csv"], tr,
                "sources", terminal=("write_single_csv",)))
            stack.enter_context(tracing.wrapped(
                pipeline_run, ["expect_nonempty", "expect_no_nulls"], tr,
                "operators"))
            stack.enter_context(tracing.wrapped(
                warehouse, ["merge_append"], tr, "sources",
                terminal=("merge_append",)))
        run.timed_loop(unit)

    # correctness, outside every clock; one verdict per operation
    for kind, res in results:
        want = n if kind == "load" else 0
        if res is not None:
            run.check(res.rows_joined == n
                      and res.warehouse_rows_written == want,
                      f"{kind}: joined {res.rows_joined} rows, wrote "
                      f"{res.warehouse_rows_written}; want {n} and {want}")

    def csv_lines() -> int:
        with open(os.path.join(out_dir, "final_weather_data.csv")) as f:
            return sum(1 for _ in f)

    def warehouse_rows() -> tuple[int, int]:
        # read back with pyarrow, independently of Spark
        import pyarrow.parquet as pq

        wh = pq.read_table(wh_path, columns=["city", "time_of_record"])
        keys = set(zip(wh.column("city").to_pylist(),
                       wh.column("time_of_record").to_pylist()))
        return wh.num_rows, len(keys)

    lines = run.attempt("read csv artifact", csv_lines)
    if lines is not None:
        run.check(lines == n + 1, f"csv artifact has {lines} lines")
    total, keys = run.attempt("read warehouse", warehouse_rows) or (0, 0)
    if total:
        run.check(total == keys == loaded * n,
                  f"warehouse rows {total}, distinct keys {keys}, "
                  f"expected {loaded * n}")
    size = sum(os.path.getsize(p) for p in _files(wh_path))
    return {"stored_bytes_per_row": size / total if total else 0.0,
            "warehouse_rows": total, "days_loaded": loaded}


WORKLOADS = {"headline": headline, "etl_daily": etl_daily}

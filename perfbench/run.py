#!/usr/bin/env python3
"""cw-spark benchmark.

    python3 perfbench/run.py --workload headline|etl_daily|all
                             [--seed N] [--seconds S] [--trace 0|1]

Runs one workload for ``--seconds`` of timed operations and prints a
readable report, then as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``perfbench/README.md``).  ``--workload all`` runs every workload in
its own process and prints one table.  Exit code 0 only if every
operation ran and every output check passed.

Everything the run writes stays under ``.perfbench_run/`` in the
checkout; Spark's log goes to ``.perfbench_run/<workload>.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark"
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("headline", "etl_daily")
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "total_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "sources.register_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "exec.materialize_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.deserialize_s": "s",
    "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "spill.bytes": "B", "cache.persists": "count",
    "streaming.batches": "count", "sources.fetch_calls_per_doc": "ratio",
    "sources.files_per_day": "count",
    "trace.overhead_s": "s", "trace.span_sum_ratio": "ratio",
}
# reported in every untraced run's report, not gated (see README.md)
REPORTED = {"failed_frac": "ratio", "peak_rss_mb": "MB", "relational_s": "s",
            "llm_s": "s", "day_s": "s", "replay_s": "s",
            "stored_bytes_per_row": "B/row"}


def _preflight() -> str | None:
    for rel in (PKG, "bench.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"engine source not found: {rel} (run from a full checkout)"
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return "pyspark is not installed"
    return None


def _environment(run_dir: str) -> dict:
    """Size the session for this box through the engine's own settings."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2 ** 20
    mem = f"{max(1, min(4, int(total_gb // 4)))}g"
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local, "TZ": "UTC", "TMPDIR": tmp,
        # spark-submit's launcher JVM: no perf-data file outside the run
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    time.tzset()
    return {"cpus": cpus, "driver_mem": mem,
            "mem_total_gb": round(total_gb, 1)}


def _op_samples(units) -> dict[str, list[float]]:
    samples: dict[str, list[float]] = defaultdict(list)
    for u in units:
        for name, dt in u.ops.items():
            samples[name].append(dt)
    return samples


def end_to_end(run, extra: dict, workload: str):
    import reducers
    from workloads import LLM

    samples = _op_samples([u for u in run.units if not u.traced])
    med = {k: reducers.median(v) for k, v in samples.items()}
    metrics = {"setup_s": run.setup_s, "total_s": sum(med.values())}
    detail = {
        "peak_rss_mb": run.rss_mb,
        "failed_frac": (len(run.failures) / run.attempted
                        if run.attempted else 1.0),
        "samples_per_op": min((len(v) for v in samples.values()), default=0),
        "max_op_s": {k: max(v) for k, v in samples.items()},
    }
    if workload == "headline":
        detail["relational_s"] = sum(v for k, v in med.items()
                                     if k not in LLM)
        detail["llm_s"] = sum(v for k, v in med.items() if k in LLM)
        detail["query_median_s"] = med
    else:
        detail["day_s"] = med.get("load", 0.0)
        detail["replay_s"] = med.get("replay", 0.0)
        detail.update(extra)
    return metrics, detail


def per_layer(run, extra: dict, workload: str, cores: int):
    """Reduce the traced units to per-layer metrics (medians over the
    traced units) plus the workload's own layer figures."""
    import reducers
    import tracing

    jobs, stages = tracing.read_event_log(run.event_dir)
    traced = [u for u in run.units if u.traced]
    plain = [u for u in run.units if not u.traced]
    rows, layers, own = [], [], defaultdict(list)
    for u in traced:
        sub = run.tracer.subtree(u.span)
        js = [j for j in jobs
              if u.span["start"] <= j["submit"] <= u.span["end"]]
        tot: dict[str, float] = defaultdict(float)
        n_stages = 0
        for sid in (s for j in js for s in j["stages"]):
            st = stages.get(sid)
            if st and st.get("completed"):
                n_stages += 1
                for k, v in st.items():
                    tot[k] += v
        cat: dict[str, float] = defaultdict(float)
        for _, ph in u.catalyst:
            for k, v in ph.items():
                cat[k] += v
        cat["analysis"] += sum(s.get("analysis_s", 0.0) for s in sub)
        by_layer = reducers.self_times(sub)
        layers.append(by_layer)
        build_jobs = sum(
            1 for j in js
            if (tracing.innermost(sub, j["submit"]) or {}).get("layer")
            == "plans")
        rows.append({
            "plans.build_s": by_layer.get("plans", 0.0),
            "plans.build_jobs": build_jobs,
            "exec.materialize_s": sum(s["end"] - s["start"] for s in sub
                                      if s.get("terminal")),
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "sched.jobs": len(js), "sched.stages": n_stages,
            "sched.tasks": tot["tasks"],
            "exec.run_s": tot["run_s"], "exec.cpu_s": tot["cpu_s"],
            "exec.deserialize_s": tot["deserialize_s"],
            "exec.gc_s": tot["gc_s"],
            "exec.busy_frac": tot["run_s"] / (u.wall * cores),
            "shuffle.write_bytes": tot["shuffle_write_bytes"],
            "shuffle.read_bytes": tot["shuffle_read_bytes"],
            "spill.bytes": tot["spill_bytes"],
            "cache.persists": u.persists,
            "streaming.batches": len(u.batches),
        })
        own["streaming.batch_s"].append(sum(b for _, b in u.batches))
        for name in ("write_single_csv", "merge_append"):
            own[f"sources.{name}_s"].append(sum(
                s["end"] - s["start"] for s in sub if s["name"] == name))
    metrics = {k: reducers.median([r[k] for r in rows]) for k in rows[0]}

    # fetcher calls and new warehouse files are counted in every unit
    loads = [u.extra for u in run.units if "load_calls" in u.extra]
    docs = extra.get("cities_per_day", 0)
    metrics["sources.fetch_calls_per_doc"] = (
        reducers.median([e["load_calls"] / docs for e in loads])
        if loads and docs else 0.0)
    metrics["sources.files_per_day"] = (
        reducers.median([e["load_new_files"] for e in loads]) if loads
        else 0)
    metrics["session.build_s"] = run.session_s
    metrics["sources.register_s"] = run.register_s
    metrics["trace.overhead_s"] = (
        reducers.median([u.wall for u in traced])
        - reducers.median([u.wall for u in plain]))

    # each traced op's child spans against the same op's untraced median
    plain_med = {k: reducers.median(v)
                 for k, v in _op_samples(plain).items()}
    spans_by_op: dict[str, list[float]] = defaultdict(list)
    for u in traced:
        sub = run.tracer.subtree(u.span)
        for op in (s for s in sub if s["parent"] == u.span["id"]):
            spans_by_op[op["name"]].append(sum(
                c["end"] - c["start"] for c in sub
                if c["parent"] == op["id"]))
    ratio = {k: reducers.median(v) / plain_med[k]
             for k, v in spans_by_op.items() if plain_med.get(k)}
    metrics["trace.span_sum_ratio"] = (
        sum(reducers.median(spans_by_op[k]) for k in ratio)
        / sum(plain_med[k] for k in ratio))
    detail = {
        "self_s_by_layer": {
            k: reducers.median([lay.get(k, 0.0) for lay in layers])
            for k in sorted({k for lay in layers for k in lay})},
        "span_sum_ratio_by_op": ratio,
        "ops_within_10pct": sum(1 for r in ratio.values()
                                if abs(r - 1) <= 0.10),
        "traced_units": len(traced), "untraced_units": len(plain),
    }
    if workload == "headline":
        detail["streaming.batch_s"] = reducers.median(
            own["streaming.batch_s"])
    else:
        for k in ("sources.write_single_csv_s", "sources.merge_append_s"):
            detail[k] = reducers.median(own[k])
    return metrics, detail


def run_one(args) -> int:
    problem = _preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(RUN_ROOT,
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = _environment(run_dir)
    log_path = os.path.join(RUN_ROOT, f"{args.workload}.log")

    import workloads

    run = workloads.Run(args.seed, args.seconds, bool(args.trace),
                        run_dir, log_path)

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        with run.tracer.span(args.workload, "bench"):
            extra = workloads.WORKLOADS[args.workload](run)
        run.rss_mb = run.peak_rss_mb()
    finally:
        try:
            run.close()
        finally:
            signal.alarm(0)
    if args.trace:
        metrics, detail = per_layer(run, {**run.info.get("inputs", {}),
                                          **extra}, args.workload,
                                    env["cpus"])
        units = PER_LAYER
        with open(os.path.join(RUN_ROOT, f"{args.workload}-trace.json"),
                  "w") as f:
            json.dump(run.tracer.spans, f)
    else:
        metrics, detail = end_to_end(run, extra, args.workload)
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)

    steal = run.info.get("steal_pct")
    detail.update({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "env": env,
                   "steal_pct": steal,
                   "contended": steal is not None and steal > 1.0,
                   "inputs": run.info.get("inputs"),
                   "measured_s": run.info.get("measured_s"),
                   "units": len(run.units), "failures": run.failures[:10]})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}"
          f" cpus={env['cpus']} driver_mem={env['driver_mem']}"
          f" steal={steal}%" + (" CONTENDED" if detail["contended"] else ""))
    for name, unit in units.items():
        print(f"  {name:30s} {metrics[name]:14.4f} {unit}")
    for name, unit in REPORTED.items():
        if name in detail:
            print(f"  {name:30s} {detail[name]:14.4f} {unit}")
    for f in run.failures[:10]:
        print(f"  FAILED: {f}")
    print("DETAIL " + json.dumps(detail, default=str))
    correct = not run.failures
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; one table at the end."""
    results = {}
    code = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=ROOT)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            code = 1
        sys.stdout.write(p.stdout if p.returncode else "")
        try:
            res = json.loads(lines[-1])
            det = json.loads(next(x for x in lines
                                  if x.startswith("DETAIL "))[7:])
        except (IndexError, StopIteration, ValueError):
            print(f"{w}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
            continue
        results[w] = (res, det)
    names = {**(PER_LAYER if args.trace else END_TO_END), **REPORTED}
    print(f"{'metric':30s}{'unit':>8s}" + "".join(f"{w:>16s}"
                                                 for w in results))
    for name, unit in names.items():
        cells = []
        for res, det in results.values():
            v = res["metrics"].get(name, {}).get("value", det.get(name))
            cells.append(f"{v:16.4f}" if isinstance(v, (int, float))
                         else f"{'-':>16s}")
        if any(c.strip() != "-" for c in cells):
            print(f"{name:30s}{unit:>8s}" + "".join(cells))
    print(json.dumps({w: r for w, (r, _) in results.items()}))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

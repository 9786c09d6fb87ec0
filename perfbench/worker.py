"""One benchmark run in a fresh process (started by ``run.py``).

Order: generate the seeded inputs (not timed as set-up), set up
``SETUPS`` times (session start, plan-registry import, view
registration, one warm-up query; the second and later set-ups stop the
session, drop the package's modules and start again in the same JVM),
run the workload for ``--seconds``, check its outputs, and write the
result document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import gen
from measure import (CALIBRATION_REF_S, UNITS, CpuClock, MachineContext, Tracer, best, calibrate,
                     exec_layer, median, p50_ms)

SETUPS = 3
WORKLOADS = ("clickhub_app", "batch_analytics", "llm_pipeline")
#: fact-table copies per workload (batch runs on replicated facts)
COPIES = {"clickhub_app": 1, "batch_analytics": 8, "llm_pipeline": 1}
CPUS = int(os.environ.get("PERFBENCH_CPUS", "4"))


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == "clickhub_spark" or m.startswith("clickhub_spark.")]:
        del sys.modules[name]


def setup(sf_dir: str, first: bool) -> tuple[object, dict]:
    """One set-up; returns the session and its phase timings (s)."""
    t0 = time.perf_counter()
    if not first:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        _purge_package()
    t1 = time.perf_counter()
    from clickhub_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    from clickhub_spark.plans import all_specs

    specs = all_specs()
    t3 = time.perf_counter()
    from clickhub_spark.catalog import register_views

    register_views(spark, sf_dir)
    t4 = time.perf_counter()
    specs["q_agg_count"].builder(spark, sf_dir).collect()
    t5 = time.perf_counter()
    return spark, {
        "stop_s": t1 - t0,
        "session.start_s": t2 - t1,
        "plans.import_s": t3 - t2,
        "catalog.register_s": t4 - t3,
        "warmup_s": t5 - t4,
        "setup_s": t5 - t1,
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    ctx = MachineContext(args.root)
    # samples of the host's speed at each phase boundary (see calibrate)
    cal = [calibrate()]
    sf_dir = os.path.join(args.run_dir, "data")
    t0 = time.perf_counter()
    gen.write_tables(sf_dir, args.seed, copies=COPIES[args.workload])
    app = None
    if args.workload == "clickhub_app":
        from app import ClickhubApp

        app = ClickhubApp(args.run_dir, args.seed)
        app.generate()
    gen_s = time.perf_counter() - t0

    setups = []
    for i in range(SETUPS):
        spark, phases = setup(sf_dir, first=(i == 0))
        setups.append(phases)
    tracer = Tracer(spark, enabled=bool(args.trace))
    clock = CpuClock()
    cal.append(calibrate())

    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "gen_s": round(gen_s, 3)}
    layers: dict[str, float] = {}
    t_run = time.perf_counter()
    if app is not None:
        from app import app_metrics

        res = app.run(spark, tracer, clock, args.seconds)
        cal.append(calibrate())
        attempted, failed = res["attempted"], res["failed"]
        named, samples = app_metrics(res)
        times = {}
        for unit in UNITS:
            first = {n: getattr(sp, unit) for n, sp in res["first_read"].items()}
            warm = {n: best(v, unit) for n, v in res["warm_ops"].items()}
            times[unit] = {
                # the first cycle: first imports, streaming start, first
                # execution of every read shape
                "cold_s": getattr(res["cycles"][0], unit),
                "first_read_s": sum(first.values()),
                "warm_s": sum(warm.values()),
                "cycle_s": median([getattr(c, unit) for c in res["cycles"][1:]]),
            }
        report.update(app=named, samples=samples, failures=res["failures"], per_op={
            n: {f"warm_{u}_s": round(best(v, u), 4) for u in ("cpu", "wall")}
            for n, v in res["warm_ops"].items()})
        layers.update({f"app.{k}": v for k, v in named.items()})
        plans = res["plans"]
        layers.update(app_layers(tracer, res))
        exec_ops = tracer.ops["read"]
        layers["exec.cold_s"] = times["wall"]["first_read_s"]
        layers["exec.warm_s"] = times["wall"]["warm_s"]
    else:
        from queries import BATCH_QUERIES, LLM_QUERIES, check_query_set, query_metrics, run_query_set

        names = BATCH_QUERIES if args.workload == "batch_analytics" else LLM_QUERIES
        res = run_query_set(spark, tracer, clock, names, sf_dir, args.seed, args.seconds)
        times = query_metrics(res)
        cal.append(calibrate())
        failed, msgs, plans = check_query_set(spark, res, args.root, sf_dir)
        attempted = len(names)
        report.update(per_query=times.pop("per_query"), failures=msgs)
        layers["plans.build_s"] = times["wall"]["build_s"]
        layers["plans.build_jobs"] = float(sum(o["jobs"] for o in tracer.ops["build"]))
        exec_ops = tracer.ops["exec_cold"] + tracer.ops["exec_warm"]
        report["passes"] = len(res["passes"])
        layers["exec.cold_s"] = times["wall"]["first_exec_s"]
        layers["exec.warm_s"] = times["wall"]["warm_s"]
    # wall seconds of the run's phases (the workload phase includes its checks)
    report["phases_s"] = {
        "gen": round(gen_s, 3),
        "setups": round(sum(s["stop_s"] + s["setup_s"] for s in setups), 3),
        "workload": round(time.perf_counter() - t_run, 3),
    }
    cal.append(calibrate())
    # the gated metrics are in seconds of the reference host: scaled by
    # how much slower or faster the calibration ran here than there
    speed = CALIBRATION_REF_S / median(cal)
    e2e = {"warm_cpu_s": times["work_cpu"]["warm_s"] * speed}
    report["calibration"] = {"samples_s": [round(c, 4) for c in cal], "speed": round(speed, 4)}
    report["times"] = {u: {k: round(v, 6) for k, v in times[u].items()} for u in UNITS}
    layers["exec.task_cpu_s"] = times["task_cpu"]["warm_s"]
    layers["jvm.jit_cpu_s"] = times["jit_cpu"]["cold_s"]
    e2e["setup_s"] = median([s["setup_s"] for s in setups]) * speed
    first = setups[0]
    layers.update({
        "jvm.peak_rss_mb": _jvm_peak_rss_mb(spark),
        "session.start_s": first["session.start_s"],
        "plans.import_s": first["plans.import_s"],
        "catalog.register_s": first["catalog.register_s"],
    })
    layers.update(exec_layer(exec_ops, CPUS))
    for key in ("python_nodes", "exchanges", "broadcasts"):
        layers[f"exec.{key}"] = float(sum(p[key] for p in plans.values()))
    report["plans"] = plans
    report["setups"] = [{k: round(v, 4) for k, v in s.items()} for s in setups]
    report["end_to_end"] = {k: round(v, 6) for k, v in e2e.items()}
    report["context"] = ctx.finish(spark.sparkContext.master)
    spark.stop()
    doc = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layers,
        "report": report,
    }
    with open(args.out, "w") as f:
        json.dump(doc, f)
    return 0


def app_layers(tracer, res: dict) -> dict[str, float]:
    """Per-layer metrics of the app workload from the traced spans."""
    s = tracer.spans
    sched = s["client.schedule"]
    add = s["orchestrator.add_new_repo"]
    overhead = [c - a for c, a in zip(sched, add)]
    appended = sum(tracer.counts["sources.rows_appended"])
    offered = sum(tracer.counts["sources.rows_offered"])
    part_files = [f for f in os.listdir(res["commits_dir"]) if f.startswith("part-")]
    size = sum(os.path.getsize(os.path.join(res["commits_dir"], f)) for f in part_files)
    translate = s["sql_compat.translate"]
    return {
        "queue.schedule_ms_p50": p50_ms(s["queue.schedule"]),
        "queue.claim_ms_p50": p50_ms(s["queue.claim"]),
        "orchestrator.is_processed_ms_p50": p50_ms(s["orchestrator.is_processed"]),
        "server.overhead_ms_p50": p50_ms(overhead),
        "sources.hwm_ms_p50": p50_ms(s["sources.hwm"]),
        "sources.append_ms_p50": p50_ms(s["sources.append"]),
        "sources.append_yield": appended / offered if offered else 0.0,
        "sources.part_files": float(len(part_files)),
        "sources.bytes_per_row": size / max(1, res["stored_rows"]),
        "catalog.register_final_ms_p50": p50_ms(s["catalog.register_final"]),
        "streaming.ingest_ms_p50": p50_ms(s["streaming.ingest"]),
        "streaming.mv_ms_p50": p50_ms(s["streaming.mv"]),
        "streaming.read_stars_ms_p50": p50_ms(s["streaming.read_stars"]),
        "sql_compat.translate_ms_p50": p50_ms(translate),
        "sql_compat.run_ms_p50": p50_ms(s["sql_compat.run"]),
    }


if __name__ == "__main__":
    sys.exit(main())

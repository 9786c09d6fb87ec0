"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Each run gets a fresh worker process
(``worker.py``) and a fresh run directory under ``.perfbench_runs/``
that holds the generated inputs, the Spark warehouse, the streaming
checkpoints, the queue and the commits table; the directory is
removed at the end.  ``PYTHONPATH`` points at the checkout so Spark's
Python workers can import ``clickhub_spark``.

Output: a report line (JSON, key ``report``: machine context, sample
counts, wall times, per-query breakdown, failures) and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  Exit code 0 only when every output was correct.

End-to-end metrics: ``setup_s`` (wall, median of the set-ups) and
``warm_cpu_s``: per operation (a registered query built anew and
executed; an app read or re-submit), its best warm repetition in CPU
seconds of the worker's process tree less the JVM's JIT compiler
threads (``measure.CpuClock``), summed over the operations.  Both are
scaled to the reference host by ``measure.calibrate``, timed at each
phase boundary of the run.  The raw values, the cold pass, the app's
write cycles and the wall times of every span are in the report line
(``times``, ``setups``, ``calibration``).
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def _units() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid:
                return True
    return False


def _reap_group(pgid: int, timeout: float) -> None:
    """Wait for every process of the worker's process group (the
    worker, its JVM and Spark's Python workers) to end; kill the group
    if any outlives ``timeout``."""
    end = time.monotonic() + timeout
    while _group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "clickhub_spark", "__init__.py")):
        print(f"perfbench: no clickhub_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = _units()["per_layer" if args.trace else "end_to_end"]

    run_dir = os.path.join(ROOT, ".perfbench_runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            # traced runs read the executor summary after every operation:
            # write task-end updates through instead of every 100 ms
            + ("--conf spark.ui.liveUpdate.period=0ms " if args.trace else "")
            + "pyspark-shell"
        ),
    })
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", ROOT, "--run-dir", run_dir, "--out", out]
    log = os.path.join(run_dir, "worker.log")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True,
                                    stdout=subprocess.DEVNULL, stderr=err)
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                code = proc.wait()
            _reap_group(proc.pid, 30)
        doc = None
        if os.path.exists(out):
            with open(out) as f:
                doc = json.load(f)
        if code != 0 or doc is None:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = doc["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # a layer this workload does not exercise did no work
        values = {k: values.get(k, 0.0) for k in units}
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: workload reported no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"report": doc["report"]}, sort_keys=True))
    print(json.dumps({
        "correct": doc["correct"],
        "attempted": doc["attempted"],
        "failed": doc["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if doc["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

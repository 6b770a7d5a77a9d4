"""steelflow benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload sql_session --seed 1 --seconds 5 --trace 0

Generates the seed's inputs (cached under ``.perfbench/inputs``), runs
the workload in a fresh worker process on ``local[4]`` with one client
thread, checks every output, and prints one line per metric followed by
a JSON object as the last line of standard output. ``--trace 1`` records
spans around every call into the engine and prints the per-layer
metrics instead; the spans are written to ``.perfbench/results``.
Workloads and metrics are described in ``BENCHMARK.json`` and in
``workloads.py``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE = "steel_energy_consumption_prediction_using_pyspark_spark"
# Driver heap: below half of a 15 GiB host, leaving room for the Python
# workers (the engine's 16g default exceeds such a host).
DRIVER_MEMORY = "3g"
TINY_SCALE = 0.1
WORKER_TIMEOUT_S = 150.0
RSS_INTERVAL_S = 0.25

sys.path[:0] = [HERE, ROOT]

import proctree  # noqa: E402
import workloads  # noqa: E402


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _run_worker(args, inputs: str, tiny: str, out: str) -> tuple[int, list, str]:
    """Start the worker in its own process group, sample the tree's
    resident memory until it exits, and make sure every process of the
    group has ended. Returns (exit code, [(epoch, resident bytes)],
    stderr tail)."""
    run_dir = os.path.join(STATE, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # Temporary files of Python and of every JVM (the launcher's
        # too) stay in the run directory.
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    )
    err_path = os.path.join(run_dir, "worker.stderr")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--inputs", inputs,
        "--tiny", tiny,
        "--work", os.path.join(run_dir, "work"),
        "--out", out,
    ]
    rss = []
    with open(err_path, "w") as err:
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)],
            cwd=ROOT,
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=err,
            start_new_session=True,
        )
        try:
            while proc.poll() is None:
                rss.append((time.time(), proctree.resident_bytes(proc.pid)))
                if time.time() - t0 > WORKER_TIMEOUT_S:
                    break
                time.sleep(RSS_INTERVAL_S)
        finally:
            _stop_group(proc)
    with open(err_path) as fh:
        tail = fh.read()[-3000:]
    shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, rss, tail


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    Python workers) and wait until it is gone."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds <= 0:
        return _fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        return _fail(f"engine sources not found under {ROOT}")

    import checks
    import gen
    import metrics

    inputs = gen.generate(os.path.join(STATE, "inputs"), args.seed)
    tiny = gen.generate(os.path.join(STATE, "inputs"), 0, TINY_SCALE)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)

    code, rss, err_tail = _run_worker(args, inputs, tiny, out)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(err_tail)
        return _fail(f"worker exited with code {code}")
    with open(out) as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = max(b for _, b in rss) / (1024.0 * 1024.0)

    failures = checks.check(res, inputs)
    for d in (inputs, tiny):  # the run's persisted index, if any
        shutil.rmtree(workloads._index_dir(d), ignore_errors=True)
    for f in failures:
        print(f"CHECK FAILED: {f}")
    e2e = metrics.end_to_end(res)
    ops = res["setup_ops"] + res["ops"] + res["warmup_failed"]
    attempted = len(ops)
    failed = min(attempted, sum(1 for o in ops if o["error"]) + len(failures))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"driver_memory {res['driver_memory']}")
    print(f"cpu_steal_frac {res['steal_frac']:.4f} ratio (timed region, whole machine)")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for line in metrics.tail_note(res):
        print(line)
    if args.trace:
        layers = metrics.per_layer(res)
        res["per_layer"] = layers
        shown = layers
        other = os.path.join(results, f"{args.workload}_seed{args.seed}_trace0.json")
        if os.path.exists(other):
            with open(other) as fh:
                base = json.load(fh)
            for k, (v, unit) in e2e.items():
                b = base["end_to_end"][k][0]
                print(f"tracing_overhead {k} {v - b:+.6g} {unit}")
    else:
        shown = e2e
    res["end_to_end"] = e2e
    res["check_failures"] = failures
    with open(out, "w") as fh:
        json.dump(res, fh)
    print(
        json.dumps(
            {
                "correct": not failures and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

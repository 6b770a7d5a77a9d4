"""One benchmark run in a fresh process: set up, measure, write results.

Started by ``run.py`` with the environment it prepared (a fresh
``SPARK_LOCAL_DIRS``, ``SPARK_DRIVER_MEMORY``); writes one JSON file
with the op log, output digests, timings and, in the traced run, the
spans. It prints nothing the caller parses.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

YOUNG_GEN = "512m"
ENGINE_MODULES = ["pyspark.ml.tuning"] + [
    "steel_energy_consumption_prediction_using_pyspark_spark." + m
    for m in (
        "workload",
        "ml.evaluate",
        "ml.models",
        "ml.pipeline",
        "ml.tuning",
        "operators.dedup",
        "operators.relational",
        "operators.text",
        "sources.steel",
        "sources.writers",
    )
]
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import proctree  # noqa: E402
import workloads as WL  # noqa: E402
from spans import Tracer  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--tiny", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True)
    a = p.parse_args()

    from steel_energy_consumption_prediction_using_pyspark_spark.session import (
        get_session,
    )

    t_sess = time.time()
    spark = get_session(
        "perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
            # A fixed heap and young generation keep the driver's
            # resident size from following the collector's
            # timing-dependent resizing decisions.
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn{YOUNG_GEN}",
        },
    )
    spark.range(1).collect()
    session_start_s = time.time() - t_sess

    tracer = Tracer(spark, bool(a.trace))
    ctx = WL.Context(spark, tracer, a.work)
    rng = random.Random(a.seed)

    # Import what the warm-up tasks call before they start: threads that
    # import one package for the first time at once can see it half
    # initialised.
    for mod in ENGINE_MODULES:
        importlib.import_module(mod)

    # Warm-up: the same code paths on tiny inputs, results discarded.
    t_warm = time.time()
    warm = WL.Context(spark, Tracer(spark, False), os.path.join(a.work, "warmup"))
    with ThreadPoolExecutor(3) as pool:
        for f in [pool.submit(t) for t in WL.warmup_tasks(warm, a.tiny, a.workload)]:
            f.result()
    warmup_s = time.time() - t_warm

    with tracer.span("setup", kind="setup"):
        WL.setup(ctx, a.inputs, a.workload)
    setup_ops = list(ctx.ops)
    ctx.ops.clear()
    setup_s = time.time() - a.t0

    me = os.getpid()
    cpu0 = proctree.cpu_seconds(me)
    steal0 = proctree.host_ticks()
    t0 = time.perf_counter()
    passes: list[float] = []
    pass_cpu: list[float] = []
    pass_ops: list[int] = []
    # Closed loop, one client: the next pass starts when the last one
    # ends, if a pass of the median length so far still ends within
    # --seconds. The workload's minimum number of passes always runs,
    # so a run overruns --seconds only when those take longer.
    while len(passes) < WL.MIN_PASSES[a.workload] or (
        time.perf_counter() - t0 + statistics.median(passes) <= a.seconds
    ):
        p0, c0, n0 = time.perf_counter(), proctree.cpu_seconds(me), len(ctx.ops)
        with tracer.span("pass", kind="pass"):
            WL.run_pass(ctx, a.inputs, a.workload, rng)
        passes.append(time.perf_counter() - p0)
        pass_cpu.append(proctree.cpu_seconds(me) - c0)
        pass_ops.append(len(ctx.ops) - n0)
    elapsed = time.perf_counter() - t0
    cpu_s = proctree.cpu_seconds(me) - cpu0
    steal1 = proctree.host_ticks()
    if tracer.enabled and a.workload == "sql_session":
        ctx.extra["candidates_per_result"] = WL.ivf_candidates_per_result(spark, a.inputs)
    spans = tracer.finish()

    out = {
        "workload": a.workload,
        "seed": a.seed,
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "warmup_failed": [o for o in warm.ops if o["error"]],
        "setup_ops": setup_ops,
        "elapsed_s": elapsed,
        "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "passes": passes,
        "pass_cpu_s": pass_cpu,
        "pass_ops": pass_ops,
        "cpu_s": cpu_s,
        "ops": ctx.ops,
        "results": ctx.results,
        "cache": ctx.cache,
        "extra": ctx.extra,
        "spans": spans,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }
    tmp = a.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, a.out)
    # No orderly shutdown: the caller kills the process group (the JVM
    # and the Python workers) and removes the run directory, which is
    # quicker than stopping the context.
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())

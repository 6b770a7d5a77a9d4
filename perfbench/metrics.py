"""End-to-end and per-layer metrics from one worker result."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def op_p50(ops: list[dict]) -> float:
    """Median operation latency in seconds, every kind of operation
    weighted alike: the median over operation names of each name's
    median latency. A plain median over all samples would, with two
    kinds of very different cost run equally often (the dedup job's
    two steps), fall in the gap between them and jump with the number
    of passes."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        if not o["error"]:
            by_name.setdefault(o["name"], []).append(o["s"])
    return statistics.median(statistics.median(v) for v in by_name.values()) if by_name else 0.0


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    """Timed figures per pass are medians over the run's passes; the
    number of passes is fixed per workload (``workloads.MIN_PASSES``)."""
    rates = [n / t for n, t in zip(res["pass_ops"], res["passes"])]
    return {
        "setup_s": (res["setup_s"], "s"),
        "job_s": (statistics.median(res["passes"]), "s"),
        "op_p50_ms": (op_p50(res["ops"]) * 1e3, "ms"),
        "ops_per_s": (statistics.median(rates), "1/s"),
        "cpu_s": (statistics.median(res["pass_cpu_s"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }


def tail_note(res: dict) -> list[str]:
    """The highest-percentile latency with at least ten samples beyond
    it, when the run has enough samples for one above the median."""
    lat = sorted(o["s"] for o in res["ops"] if not o["error"])
    n = len(lat)
    if n < 2 * TAIL_BEYOND + 1:
        return [f"op_tail_ms n/a ms (n={n} ops; needs {2 * TAIL_BEYOND + 1})"]
    i = n - TAIL_BEYOND - 1
    return [f"op_tail_ms {lat[i] * 1e3:.6g} ms (p{100.0 * i / (n - 1):.0f}, n={n})"]


def _sum(spans, key, pred=lambda s: True) -> float:
    return sum(s[key] for s in spans if pred(s))


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    spans = res["spans"]
    n_pass = len(res["passes"])
    in_loop = _in_passes(spans)
    ops = [s for s in in_loop if s.get("kind") == "op"]
    calls = [s for s in in_loop if s.get("kind") in ("call", "forced")]

    def per_pass(key, pred=lambda s: True, src=ops) -> float:
        return _sum(src, key, pred) / n_pass

    def named(prefix):
        return lambda s: s["name"].startswith(prefix)

    out: dict[str, tuple[float, str]] = {}
    # Driver time inside registry and operator calls: their wall time
    # minus the Spark jobs they ran themselves.
    builds = [
        s for s in calls if s["name"].startswith(("workload.registry.", "operators."))
    ]
    out["driver.plan_build_ms"] = (
        1e3 * _sum(builds, "driver_gap_s") / max(1, len(ops)),
        "ms",
    )
    phases = [r["phases_ms"] for r in res["results"] if "phases_ms" in r]
    for ph in ("analysis", "optimization", "planning"):
        v = statistics.mean(p[ph] for p in phases) if phases else 0.0
        out[f"driver.{ph}_ms"] = (v, "ms")
    out["driver.gap_s"] = (per_pass("driver_gap_s"), "s")
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = (per_pass(k), "count")
    run, cpu = per_pass("executor_run_s"), per_pass("executor_cpu_s")
    out["spark.executor_run_s"] = (run, "s")
    out["spark.executor_cpu_s"] = (cpu, "s")
    out["spark.offcpu_s"] = (run - cpu, "s")
    out["spark.gc_s"] = (per_pass("gc_s"), "s")
    for k in ("input_mb", "shuffle_read_mb", "shuffle_write_mb"):
        out[f"spark.{k}"] = (per_pass(k), "MiB")

    d = "operators.dedup."
    for op in ("ngram_jaccard_pairs", "minhash_lsh_pairs"):
        out[f"{d}{op}_s"] = (per_pass("wall_s", named(f"{d}{op}.exec"), calls), "s")
    cc = [s for s in calls if s["name"] == f"{d}connected_components"]
    out[f"{d}connected_components_s"] = (_sum(cc, "wall_s") / n_pass, "s")
    dd = res["extra"].get("dedup", [])
    med = lambda k: statistics.median(x[k] for x in dd) if dd else 0.0  # noqa: E731
    out[f"{d}candidate_pairs"] = (med("candidate_pairs"), "count")
    out[f"{d}verified_pairs"] = (med("verified_pairs"), "count")
    cand = med("candidate_pairs")
    out[f"{d}pair_yield"] = (med("verified_pairs") / cand if cand else 0.0, "ratio")
    rounds = med("cc_rounds")
    out[f"{d}cc_rounds"] = (rounds, "count")
    cc_jobs = _sum(cc, "jobs") / max(1, len(cc))
    out[f"{d}jobs_per_round"] = (cc_jobs / rounds if rounds else 0.0, "count")

    s = "operators.similarity."
    out[f"{s}index_build_s"] = (sum(o["s"] for o in res["setup_ops"]), "s")
    out[f"{s}candidates_per_result"] = (res["extra"].get("candidates_per_result", 0.0), "count")
    rec = [r["recall"] for r in res["results"] if "recall" in r]
    out[f"{s}recall_at_k"] = (statistics.median(rec) if rec else 0.0, "ratio")

    c = res["cache"]
    out["workload.cache.hits"] = (float(c["hits"]), "count")
    out["workload.cache.misses"] = (float(c["misses"]), "count")
    out["workload.cache.build_s"] = (c["build_s"], "s")

    out["sources.read_s"] = (per_pass("wall_s", named("sources.read"), calls), "s")
    out["sources.write_s"] = (per_pass("wall_s", named("sources.write"), calls), "s")

    for name, prefix in (
        ("fit_s", "ml.fit"),
        ("tune_s", "ml.tuning"),
        ("eval_s", "ml.evaluate"),
        ("save_s", "ml.save"),
        ("load_s", "ml.load"),
    ):
        out[f"ml.{name}"] = (per_pass("wall_s", named(prefix), calls), "s")
    fits = [x for x in calls if x["name"] == "ml.fit"]
    out["ml.jobs_per_fit"] = (_sum(fits, "jobs") / len(fits) if fits else 0.0, "count")

    out["session.start_s"] = (res["session_start_s"], "s")
    out["session.warmup_s"] = (res["warmup_s"], "s")
    return out


def _in_passes(spans: list[dict]) -> list[dict]:
    """Spans inside a timed pass (not the set-up spans)."""
    root = {}
    for i, s in enumerate(spans):
        p = s["parent"]
        root[i] = i if p is None else root[p]
    return [s for i, s in enumerate(spans) if spans[root[i]]["name"] == "pass"]

"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``pipeline_drain`` and ``analytics_headline`` (see BENCHMARK.json and perfbench/README.md).  stderr carries progress;
stdout ends with a report line (host facts, every metric with its unit,
``failed_ratio``) and then the one-line result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json.  With ``--trace 1`` the window alternates traced and
plain units of work (drains, query passes) and the metrics are the
per-layer ones, plus the tracing overhead: traced against plain units.
A run whose outputs are wrong prints ``"correct": false`` and exits 1;
a run that cannot run exits non-zero with no result.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

# Which end-to-end metric each per-layer family should move, by workload.
MOVES = {
    "operators.": "events_per_s on pipeline_drain",
    "streaming.": "a small share of events_per_s on pipeline_drain",
    "sinks.": "events_per_s and failed_ratio on pipeline_drain",
    "spark.": "CPU -> events_per_s on pipeline_drain; queries_total_s on analytics_headline",
    "queries.": "queries_total_s on analytics_headline only",
    "session.": "setup_s",
    "memory.": "no bounded metric: peak RSS of the driver JVM and its Python workers, which G1 sizes by GC timing under the engine's default heap",
    "trace.": "tracing overhead: traced minus untraced primary metric, in % of untraced",
}
PRIMARY = {  # metric whose traced-vs-untraced change is the tracing overhead
    "pipeline_drain": ("events_per_s", "higher"),
    "analytics_headline": ("queries_total_s", "lower"),
}


def _workloads():
    from perfbench.analytics import AnalyticsWorkload
    from perfbench.pipeline import DrainWorkload

    return {w.name: w for w in (DrainWorkload, AnalyticsWorkload)}


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {common.HARD_TIMEOUT_S}s")


def _terminated(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")  # so the finally blocks clean up


def measure(wl, spark, traced: bool, facts: dict) -> dict:
    """Set up and measure; return the end-to-end metrics, or with
    ``traced`` the per-layer metrics and the tracing overhead."""
    with common.RssSampler(common.jvm_pid()) as rss:
        wl.setup(spark)
        setup_s = time.time() - T_START
        by_mode = wl.window(traced)
    e2e = {**by_mode["plain"], "setup_s": setup_s}
    facts["peak_rss_mb"] = rss.peak_mb
    facts["at_peak_rss"] = rss.at_peak
    if not traced:
        return e2e
    layers = {**wl.stages.metrics, **wl.layer_metrics(spark)}
    triggers = layers.get("streaming.triggers", 0)
    layers["spark.jobs_per_trigger"] = layers["spark.jobs"] / triggers if triggers else 0.0
    sinks = ("sinks.opensearch", "sinks.splunk")
    total = sum(layers.get(f"{s}.records_total", 0) for s in sinks)
    ok = sum(layers.get(f"{s}.records_ok", 0) for s in sinks)
    layers["sinks.delivered_ratio"] = ok / total if total else 0.0
    layers["session.start_s"] = facts["session_start_s"]
    layers["memory.peak_rss_mb"] = rss.peak_mb
    name, better = PRIMARY[wl.name]
    change = (by_mode["traced"][name] - e2e[name]) / e2e[name] * 100
    layers["trace.overhead_pct"] = -change if better == "higher" else change
    facts["end_to_end_by_mode"] = {**by_mode, "plain": e2e}
    return layers


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    workloads = _workloads()
    if a.workload not in workloads:
        p.error(f"unknown workload {a.workload!r}; choose from {sorted(workloads)}")
    common.check_package()

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(common.HARD_TIMEOUT_S)
    run = common.Run(a.workload, a.seed)
    spark = None
    try:
        with contextlib.redirect_stdout(sys.stderr):  # engine prints go to stderr
            wl = workloads[a.workload](run, a.seed, a.seconds, bool(a.trace))
            load_before = os.getloadavg()
            cpu_before = common.cpu_ticks()
            t0 = time.time()
            spark = common.start_session(run)
            facts = common.host_facts(spark, a.seed)
            facts["session_start_s"] = time.time() - t0
            values = measure(wl, spark, bool(a.trace), facts)
            if hasattr(wl, "check"):
                wl.check()
            facts["loadavg_before"] = load_before
            facts["loadavg_after"] = os.getloadavg()
            facts["cpu_steal_pct"] = common.steal_pct(cpu_before, common.cpu_ticks())
    finally:
        try:
            if spark is not None:
                common.stop_session(spark)
        finally:
            run.close()
            signal.alarm(0)

    if hasattr(wl, "pl"):  # pipeline: records expected at a sink vs acknowledged
        attempted, failed, errors = wl.pl.expected, wl.pl.missing, wl.pl.errors
    else:  # analytics: query executions and oracle checks
        attempted, failed, errors = wl.attempted, len(wl.errors), wl.errors
    correct = failed == 0 and not errors and attempted > 0
    units = {m["name"]: m["unit"] for m in wanted}
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    report = {
        "workload": a.workload,
        "trace": a.trace,
        "host": facts,
        "samples": getattr(wl, "samples", {}),
        "failed_ratio": failed / attempted if attempted else 1.0,
        "errors": errors[:5],
        "values": values,
    }
    if a.trace:
        report["moves"] = MOVES
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

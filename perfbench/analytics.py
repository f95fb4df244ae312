"""``analytics_headline``: headline ``REGISTRY`` queries over the
repository's scale-factor-0.1 test tables (``bench.SF_DIR``, which
``$SPARK_GRAFT_SF_DIR`` overrides).  Each query is built (the registry builder, which
resolves its ``sources.batch`` tables) and then fully materialized with
a noop write.  Passes repeat until the measured seconds are reached.
The warm-up pass collects every query's full result; after the timed
passes those results are checked against the query's DuckDB oracle SQL
with the repository's strict parity rule (``tests.oracle_compare``)."""

from __future__ import annotations

import contextlib
import os
import time

from bench import SF_DIR
from perfbench import trace
from perfbench.common import log, median, quantile

# Six relational entries of the 20-query headline set: a cold warm-up
# pass plus three timed passes of all 20 take longer than one benchmark
# run may.
QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q9_product_profit",
    "join_asof_last_order",
    "window_sessionization",
)
# The first pass after the warm-up runs about 25 % slower than the
# later ones (the JIT is still warming); with three or more passes the
# per-query medians skip it.
MIN_PASSES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AnalyticsWorkload:
    name = "analytics_headline"

    def __init__(self, run, seed: int, seconds: float, traced: bool) -> None:
        if not os.path.isdir(SF_DIR):
            raise FileNotFoundError(f"test tables not found at {SF_DIR} (set SPARK_GRAFT_SF_DIR)")
        self.seconds = seconds
        self.data = SF_DIR
        self.attempted = 0
        self.errors: list[str] = []

    def setup(self, spark) -> None:
        from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

        self.spark = spark
        self.queries = [REGISTRY[n] for n in QUERIES]
        self.results = {q.name: q.spark(spark, self.data).toPandas() for q in self.queries}

    def _pass(self, traced: bool, samples: dict) -> float:
        """One pass over the queries; returns its busy seconds."""
        busy = 0.0
        for q in self.queries:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with self.py4j if traced else contextlib.nullcontext():
                    df = q.spark(self.spark, self.data)
                t1 = time.perf_counter()
                if traced:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                _noop(df)
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
                self.errors.append(f"{q.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            samples[q.name].append((t1 - t0, t2 - t1, t3 - t2))
            busy += t3 - t0
        return busy

    def window(self, traced: bool) -> dict[str, dict]:
        """Passes until each mode has at least ``MIN_PASSES`` passes and
        its busy time reaches the measured seconds.  A traced run alternates traced and plain passes, so
        both see the same JVM warm-up; returns the end-to-end metrics
        per mode."""
        modes = ("traced", "plain") if traced else ("plain",)
        self.stages = trace.StageWindow(self.spark)
        self.py4j = trace.Py4jCounter(self.spark)
        samples = {m: {q.name: [] for q in self.queries} for m in modes}
        busy = dict.fromkeys(modes, 0.0)
        passes = dict.fromkeys(modes, 0)
        while min(busy.values()) < self.seconds or min(passes.values()) < MIN_PASSES:
            m = modes[sum(passes.values()) % len(modes)]
            passes[m] += 1
            with self.stages if m == "traced" else contextlib.nullcontext():
                b = self._pass(m == "traced", samples[m])
            if not b:
                raise RuntimeError(f"every query failed: {self.errors[-len(self.queries):]}")
            busy[m] += b
        log(f"analytics: passes {passes}, busy {busy}")
        self.samples = {"passes": passes}
        self.traced_samples = samples.get("traced")
        self.traced_passes = passes.get("traced", 0)
        out = {}
        for m in modes:
            per_query = [median([sum(x) for x in v]) for v in samples[m].values() if v]
            executions = sum(len(v) for v in samples[m].values())
            out[m] = {
                "events_per_s": executions / busy[m],
                "queries_total_s": sum(per_query),
                "latency_p50_ms": quantile(per_query, 0.5) * 1e3,
                "latency_p90_ms": quantile(per_query, 0.9) * 1e3,
            }
        return out

    def layer_metrics(self, spark) -> dict:
        out = {}
        for i, part in enumerate(("build_s", "plan_s", "exec_s")):
            total = 0.0
            for name, v in self.traced_samples.items():
                out[f"queries.{name}.{part}"] = m = median([s[i] for s in v])
                total += m
            out[f"queries.{part}"] = total
        out["queries.py4j_calls"] = self.py4j.calls / self.traced_passes  # per pass
        return out

    def check(self) -> None:
        """Every query's warm-up result against its DuckDB oracle: same
        columns, same row count, same canonical rows."""
        from tests.oracle_compare import _rows, duck_con

        con = duck_con(self.data)
        try:
            for q in self.queries:
                self.attempted += 1
                got = self.results[q.name]
                want = con.execute(q.oracle).fetchdf()
                got_rows, want_rows = _rows(got), _rows(want)
                if sorted(got.columns) != sorted(want.columns) or got_rows != want_rows:
                    bad = [(g, w) for g, w in zip(got_rows, want_rows) if g != w]
                    self.errors.append(f"{q.name}: {sorted(got.columns)} x {len(got)} rows vs "
                                       f"oracle {sorted(want.columns)} x {len(want)}; e.g. {bad[:1]}")
        finally:
            con.close()

"""``pipeline_drain``: ``read_envelope_stream`` -> ``decode_stream`` ->
``dual_sink_fanout``, both sinks on ``RequestsTransport`` into the local
stubs.  A closed replay: a seeded backlog is drained with an
availableNow trigger, again and again with a fresh checkpoint, until the
drains add up to the measured seconds.

A file's latency runs from its drain's start to the later of the two
sinks' receipt of its last record.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from functools import partial

from perfbench import trace
from perfbench.common import log, median, quantile, read_json_file

DRAIN_FILES = 24  # three triggers, so the median file sits inside the middle one
DRAIN_RECORDS = 1000
DRAIN_FILES_PER_TRIGGER = 8
# The first timed drain runs 10-30 % slower than the next even after a
# warm-up drain; with three or more, the per-drain medians skip it.
MIN_DRAINS = 3
HEC_TOKEN = "perfbench"


class NullTransport:
    """Accepts every chunk and sends nothing (the handoff measurement)."""

    def send(self, chunk) -> None:
        pass


class Stubs:
    """Client of the stub process (perfbench.stubs)."""

    def __init__(self, run) -> None:
        self.port_file = f"{run.dir}/stub-ports.json"
        self.proc = run.spawn("stubs", "perfbench.stubs", "--port-file", self.port_file)
        self.ports: dict[str, int] = {}

    def wait_ready(self) -> None:
        self.ports = read_json_file(self.port_file, 30, self.proc)

    def url(self, name: str) -> str:
        path = {"hec": "/services/collector", "bulk": "/_bulk"}[name]
        return f"http://127.0.0.1:{self.ports[name]}{path}"

    def _call(self, path: str, payload: dict | None = None) -> dict:
        url = f"http://127.0.0.1:{self.ports['control']}{path}"
        data = None if payload is None else json.dumps(payload).encode()
        with urllib.request.urlopen(url, data=data, timeout=60) as resp:
            return json.load(resp)

    def reset(self) -> None:
        self._call("/reset", {})

    def verify(self, seed: int, first: int, files: int, records: int) -> dict:
        return self._call("/verify", {"seed": seed, "first": first, "files": files,
                                      "records": records})


def file_latencies_s(verdict: dict, due: dict[int, float]) -> list[float]:
    """Per-file latency; a file that a sink never fully received counts
    as infinitely late."""
    last = verdict["last_receipt"]
    out = []
    for k, t_due in due.items():
        recv = [last[s].get(str(k)) for s in ("bulk", "hec")]
        out.append(float("inf") if None in recv else max(recv) - t_due)
    return out


class Pipeline:
    def __init__(self, spark, run, stubs: Stubs) -> None:
        self.spark = spark
        self.run = run
        self.stubs = stubs
        self.n_queries = 0
        self.expected = 0
        self.missing = 0
        self.errors: list[str] = []

    def sinks(self, traced: bool):
        from kinesis_to_opensearch_lambda_spark.sinks import OpenSearchBulkSink, SplunkHECSink
        from kinesis_to_opensearch_lambda_spark.sinks.transports import RequestsTransport

        bulk = partial(RequestsTransport, self.stubs.url("bulk"))
        hec = partial(RequestsTransport, self.stubs.url("hec"), token=HEC_TOKEN)
        if not traced:
            return (OpenSearchBulkSink(transport_factory=bulk),
                    SplunkHECSink(transport_factory=hec, splunk_index="audit"))
        bulk_f = trace.TracedTransportFactory(self.spark, bulk)
        hec_f = trace.TracedTransportFactory(self.spark, hec)
        return (trace.TracedSink(OpenSearchBulkSink(transport_factory=bulk_f), bulk_f),
                trace.TracedSink(SplunkHECSink(transport_factory=hec_f, splunk_index="audit"), hec_f))

    def check(self, verdict: dict) -> None:
        """Fold one stub verdict into the run's delivery counts."""
        for s in ("bulk", "hec"):
            self.expected += verdict[s]["expected"]
            self.missing += verdict[s]["missing"]
        self.errors.extend(verdict["errors"])

    def drain(self, src: str, sinks):
        """One availableNow drain with a fresh checkpoint: (start, wall
        seconds, progress)."""
        from kinesis_to_opensearch_lambda_spark.sources.kinesis import read_envelope_stream
        from kinesis_to_opensearch_lambda_spark.streaming.pipeline import (
            decode_stream,
            dual_sink_fanout,
        )

        self.n_queries += 1
        ckpt = self.run.path("checkpoints", str(self.n_queries))
        t0 = time.time()
        stream = read_envelope_stream(self.spark, src, max_files_per_trigger=DRAIN_FILES_PER_TRIGGER)
        q = dual_sink_fanout(decode_stream(stream), *sinks, ckpt, available_now=True)
        if not q.awaitTermination(150):
            q.stop()
            raise RuntimeError("drain did not terminate")
        wall = time.time() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return t0, wall, progress_dicts(q)


def progress_dicts(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


# --- pipeline_drain --------------------------------------------------------

class DrainWorkload:
    name = "pipeline_drain"

    def __init__(self, run, seed: int, seconds: float, traced: bool) -> None:
        self.run, self.seed, self.seconds = run, seed, seconds
        self.stubs = Stubs(run)
        self.src = run.path("drain-src")
        self.gen = run.spawn("backlog", "perfbench.loadgen", "--src", self.src,
                             "--stage", run.path("stage"), "--seed", str(seed),
                             "--files", str(DRAIN_FILES), "--records", str(DRAIN_RECORDS))

    def setup(self, spark) -> None:
        self.stubs.wait_ready()
        self.run.wait(self.gen, 60, "backlog")
        log("inputs ready")
        self.pl = Pipeline(spark, self.run, self.stubs)
        # One untimed drain of the same backlog, as its own query, warms
        # the code paths at the timed triggers' size.
        self.pl.drain(self.src, self.pl.sinks(False))
        self.stubs.reset()
        log("warmed up")

    def window(self, traced: bool) -> dict[str, dict]:
        """Drain until each mode has at least ``MIN_DRAINS`` drains adding
        up to the measured seconds.  A traced run alternates traced and plain drains, so both see the
        same JVM warm-up; returns the end-to-end metrics per mode."""
        modes = ("traced", "plain") if traced else ("plain",)
        sinks = {m: self.pl.sinks(m == "traced") for m in modes}
        acc = {m: {"walls": [], "rates": [], "lat": []} for m in modes}
        self.stages = trace.StageWindow(self.pl.spark)
        self.progress = []
        def done(a: dict) -> bool:
            return sum(a["walls"]) >= self.seconds and len(a["walls"]) >= MIN_DRAINS

        while not all(done(a) for a in acc.values()):
            m = modes[sum(len(a["walls"]) for a in acc.values()) % len(modes)]
            with self.stages if m == "traced" else contextlib.nullcontext():
                t0, wall, prog = self.pl.drain(self.src, sinks[m])
            verdict = self.stubs.verify(self.seed, 0, DRAIN_FILES, DRAIN_RECORDS)
            self.stubs.reset()
            self.pl.check(verdict)
            a = acc[m]
            a["walls"].append(wall)
            a["rates"].append(min(verdict["bulk"]["matched"], verdict["hec"]["matched"]) / wall)
            a["lat"] += file_latencies_s(verdict, {k: t0 for k in range(DRAIN_FILES)})
            if m == "traced":
                self.progress += prog
            log(f"{m} drain {len(a['walls'])}: {wall:.2f}s")
        self.sinks_used = sinks.get("traced")
        self.samples = {m: {"drains": len(a["walls"]), "files": len(a["lat"])} for m, a in acc.items()}
        return {
            m: {"events_per_s": median(a["rates"]), "queries_total_s": median(a["walls"]),
                "latency_p50_ms": quantile(a["lat"], 0.5) * 1e3,
                "latency_p90_ms": quantile(a["lat"], 0.9) * 1e3}
            for m, a in acc.items()
        }

    def layer_metrics(self, spark) -> dict:
        out = trace.progress_summary(self.progress)
        out.update(self.sinks_used[0].metrics("sinks.opensearch"))
        out.update(self.sinks_used[1].metrics("sinks.splunk"))
        out.update(operator_layers(spark, self.src))
        return out


# --- operator layers (static noop runs) -------------------------------------

def operator_layers(spark, src: str, reps: int = 3) -> dict[str, float]:
    """Cumulative noop runs over the workload's input files read as a
    static frame: decode; decode + ES serialize; decode + Splunk
    serialize; decode + Splunk serialize + Python handoff (a
    ``ChunkedTransportSink.write`` into a null transport)."""
    from kinesis_to_opensearch_lambda_spark.sinks import OpenSearchBulkSink, SplunkHECSink
    from kinesis_to_opensearch_lambda_spark.sources.kinesis import ENVELOPE_SCHEMA
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    decoded = decode_stream(spark.read.schema(ENVELOPE_SCHEMA).parquet(src))
    es = OpenSearchBulkSink(transport_factory=NullTransport)
    hec = SplunkHECSink(transport_factory=NullTransport, splunk_index="audit")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    steps = {
        "operators.decode_s": lambda: noop(decoded),
        "operators.es_serialize_s": lambda: noop(es.serialize(decoded)),
        "operators.splunk_serialize_s": lambda: noop(hec.serialize(decoded)),
        "operators.python_handoff_s": lambda: hec.write(decoded),
    }
    out = {}
    for name, step in steps.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            step()
            times.append(time.perf_counter() - t0)
        out[name] = median(times)
    return out

"""Traced-run instruments.  All of them wrap the engine from outside:

- :class:`TracedSink` wraps a sink object handed to ``dual_sink_fanout``;
- :class:`TracedTransportFactory` wraps the transport factory a sink
  calls on the executors; its counts come back through accumulators;
- :func:`progress_summary` reads ``StreamingQuery.recentProgress``;
- :class:`StageWindow` diffs the Spark status store over a window;
- :class:`Py4jCounter` counts gateway round trips in this process.
"""

from __future__ import annotations

import time

from pyspark.accumulators import AccumulatorParam

from perfbench.common import median, quantile


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):  # noqa: N802 - AccumulatorParam API
        a.extend(b)
        return a


class _CountingTransport:
    """Executor-side wrapper: times each ``send`` and counts chunks,
    failed attempts and retries (a retry re-sends the same chunk)."""

    def __init__(self, inner, acc) -> None:
        self.inner = inner
        self.acc = acc
        self._failed = None

    def send(self, chunk):
        retry = chunk is self._failed
        t0 = time.perf_counter()
        try:
            self.inner.send(chunk)
        except Exception:
            self._failed = chunk
            self.acc["failures"].add(1)
            raise
        finally:
            self.acc["send_ms"].add([(time.perf_counter() - t0) * 1e3])
            self.acc["retries" if retry else "chunks"].add(1)
        self._failed = None


class TracedTransportFactory:
    def __init__(self, spark, inner) -> None:
        sc = spark.sparkContext
        self.inner = inner
        self.acc = {
            "chunks": sc.accumulator(0),
            "retries": sc.accumulator(0),
            "failures": sc.accumulator(0),
            "send_ms": sc.accumulator([], _ListParam()),
        }

    def __call__(self):
        return _CountingTransport(self.inner(), self.acc)


class TracedSink:
    """Driver-side wrapper: wall time and (ok, total) of every write."""

    def __init__(self, sink, factory: TracedTransportFactory) -> None:
        self.sink = sink
        self.factory = factory
        self.write_s = 0.0
        self.records_ok = 0
        self.records_total = 0

    def write(self, df):
        t0 = time.perf_counter()
        ok, total = self.sink.write(df)
        self.write_s += time.perf_counter() - t0
        self.records_ok += ok
        self.records_total += total
        return ok, total

    def metrics(self, prefix: str) -> dict[str, float]:
        acc = self.factory.acc
        send_ms = acc["send_ms"].value
        return {
            f"{prefix}.write_s": self.write_s,
            f"{prefix}.records_ok": self.records_ok,
            f"{prefix}.records_total": self.records_total,
            f"{prefix}.chunks": acc["chunks"].value,
            f"{prefix}.send_ms_p50": quantile(send_ms, 0.5) if send_ms else 0.0,
            f"{prefix}.send_ms_p90": quantile(send_ms, 0.9) if send_ms else 0.0,
            f"{prefix}.send_failures": acc["failures"].value,
            f"{prefix}.retries": acc["retries"].value,
        }


PROGRESS_FIELDS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Per-trigger medians over the triggers that carried rows."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "streaming.triggers": len(batches),
        "streaming.rows_per_trigger": median([p["numInputRows"] for p in batches]),
    }
    for name, key in PROGRESS_FIELDS.items():
        out[f"streaming.{name}_p50"] = median(
            [p["durationMs"].get(key, 0) for p in batches]
        )
    return out


STAGE_METRICS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
                 "spark.executor_cpu_ms", "spark.shuffle_write_bytes", "spark.spill_bytes",
                 "spark.gc_ms")


class StageWindow:
    """Jobs, stages, tasks and task metrics that the Spark status store
    recorded inside ``with`` blocks, summed over every block."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.metrics: dict[str, float] = dict.fromkeys(STAGE_METRICS, 0)

    def _store(self):
        sc = self.spark.sparkContext._jsc.sc()
        bus = sc.listenerBus()
        bus.waitUntilEmpty()
        return sc.statusStore()

    def _snapshot(self):
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        as_list = jvm.scala.jdk.javaapi.CollectionConverters.asJava  # Scala Seq -> List
        store = self._store()
        stages = as_list(store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ))
        jobs = {j.jobId() for j in as_list(store.jobsList(jvm.java.util.ArrayList()))}
        return jobs, {(s.stageId(), s.attemptId()): s for s in stages}

    def __enter__(self) -> "StageWindow":
        self._jobs0, stages = self._snapshot()
        self._stages0 = set(stages)
        return self

    def __exit__(self, *exc) -> None:
        jobs, stages = self._snapshot()
        new = [s for key, s in stages.items() if key not in self._stages0]
        values = (
            len(jobs - self._jobs0),
            len(new),
            sum(s.numTasks() for s in new),
            sum(s.executorRunTime() for s in new),
            sum(s.executorCpuTime() for s in new) / 1e6,
            sum(s.shuffleWriteBytes() for s in new),
            sum(s.diskBytesSpilled() + s.memoryBytesSpilled() for s in new),
            sum(s.jvmGcTime() for s in new),
        )
        for name, v in zip(STAGE_METRICS, values):
            self.metrics[name] += v


class Py4jCounter:
    """Counts py4j commands this process sends while enabled."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self) -> "Py4jCounter":
        orig = self.client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command  # back to the class's method

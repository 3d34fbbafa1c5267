"""Traced mode: spans around the calls into each layer's public
functions, plus per-op Spark, JVM and driver counters.

The wrappers are installed from here, at the names the callers resolve
(a module attribute for ``from x import f`` callers and call-time
imports, a class attribute for methods); the program itself is not
changed. Spans are kept in memory and summarised when the run ends.

DataFrames are lazy: a ``storage`` or ``query`` span measures driver-side
plan construction, and Spark execution lands in whichever span runs the
action (see LAYERS.md for where that is per route).
"""

from __future__ import annotations

import importlib
import statistics
import time
from collections import defaultdict

# (module, attribute, metric). "Class.method" patches the class.
TARGETS = [
    ("sensapp_spark.wire.snappy_codec", "decompress", "wire.snappy_ms"),
    ("sensapp_spark.wire.snappy_codec", "compress", "wire.snappy_ms"),
    ("sensapp_spark.ingest.prometheus_write", "decode_write_request", "wire.proto_ms"),
    ("sensapp_spark.wire.prompb", "decode_read_request", "wire.proto_ms"),
    ("sensapp_spark.exporters.prometheus_read", "decode_read_request", "wire.proto_ms"),
    ("sensapp_spark.exporters.prometheus_read", "encode_read_response", "wire.proto_ms"),
    ("sensapp_spark.wire.xorchunk", "encode_xor_chunk", "wire.xor_ms"),
    ("sensapp_spark.server.app", "ingest_lines", "ingest.influx_ms"),
    ("sensapp_spark.server.app", "ingest_remote_write", "ingest.prom_ms"),
    ("sensapp_spark.server.app", "ingest_senml", "ingest.senml_ms"),
    ("sensapp_spark.server.app", "ingest_csv", "ingest.csv_ms"),
    ("sensapp_spark.server.app", "ingest_arrow", "ingest.arrow_ms"),
    ("sensapp_spark.ingest.influxdb_importer", "sensor_uuid", "datamodel.uuid_ms"),
    ("sensapp_spark.ingest.prometheus_write", "sensor_uuid", "datamodel.uuid_ms"),
    ("sensapp_spark.ingest.senml_importer", "sensor_uuid", "datamodel.uuid_ms"),
    ("sensapp_spark.ingest.csv_importer", "sensor_uuid", "datamodel.uuid_ms"),
    ("sensapp_spark.ingest.arrow_importer", "sensor_uuid", "datamodel.uuid_ms"),
    ("sensapp_spark.storage.lake", "SensorLake.publish", "storage.publish_ms"),
    ("sensapp_spark.storage.lake", "SensorLake.upsert_sensors", "storage.upsert_ms"),
    ("sensapp_spark.storage.lake", "SensorLake.append_values", "storage.append_ms"),
    ("sensapp_spark.storage.lake", "SensorLake.values", "storage.values_plan_ms"),
    ("sensapp_spark.storage.lake", "SensorLake.optimize", "storage.optimize_ms"),
    ("sensapp_spark.storage.zonemap", "prune_files", "storage.prune_ms"),
    ("sensapp_spark.streaming.maintenance", "maintenance_tick", "streaming.maintain_ms"),
    ("sensapp_spark.storage.rollup", "RollupStore.refresh", "streaming.rollup_refresh_ms"),
    ("sensapp_spark.server.app", "parse_promql_query", "query.parse_ms"),
    ("sensapp_spark.query.promql_ext", "parse_extended_expr", "query.parse_ms"),
    ("sensapp_spark.query.promql_ext", "evaluate_extended", "query.eval_ms"),
    ("sensapp_spark.query.promql_ext", "evaluate_binary", "query.eval_ms"),
    ("sensapp_spark.query.promql_ext", "evaluate_range", "query.eval_ms"),
    ("sensapp_spark.query.promql_ext", "evaluate_range_binary", "query.eval_ms"),
    ("sensapp_spark.query.rollup_serve", "evaluate_instant_rollup", "query.eval_ms"),
    ("sensapp_spark.query.rollup_serve", "evaluate_range_rollup", "query.eval_ms"),
    ("sensapp_spark.server.app", "query_samples", "operators.selection_ms"),
    ("sensapp_spark.exporters.prometheus_read", "query_samples", "operators.selection_ms"),
    ("sensapp_spark.server.app", "metrics_list", "operators.catalog_ms"),
    ("sensapp_spark.server.app", "series_list", "operators.catalog_ms"),
    ("sensapp_spark.server.app", "metrics_catalog", "operators.catalog_ms"),
    ("sensapp_spark.server.app", "series_catalog", "operators.catalog_ms"),
    ("sensapp_spark.operators.catalog", "label_names", "operators.catalog_ms"),
    ("sensapp_spark.server.app", "iter_senml", "exporters.ms"),
    ("sensapp_spark.exporters.csv_exporter", "lines_multi", "exporters.ms"),
    ("sensapp_spark.exporters.csv_exporter", "row_lines", "exporters.ms"),
    ("sensapp_spark.exporters.jsonl_exporter", "lines_jsonl", "exporters.ms"),
    ("sensapp_spark.exporters.arrow_exporter", "multi_rows", "exporters.ms"),
    ("sensapp_spark.exporters.arrow_exporter", "arrow_multi_bytes_from_rows", "exporters.ms"),
    ("sensapp_spark.exporters.prometheus_read", "handle_read_request", "exporters.ms"),
    ("sensapp_spark.exporters.prometheus_read", "iter_read_request_streamed", "exporters.ms"),
]

TIME_METRICS = sorted({m for _, _, m in TARGETS} | {"server.self_ms"})
SPARK_METRICS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_ms",
                 "spark.exec_gc_ms", "spark.input_bytes", "spark.shuffle_bytes",
                 "spark.spill_bytes", "spark.failed_tasks", "jvm.gc_ms", "jvm.cpu_ms",
                 "driver.py_cpu_ms")
INGEST_ROUTES = {"influx", "influx_status", "remote_write", "senml", "csv", "arrow"}


class Tracer:
    """Spans per op: [op id, metric, start, end, parent span index]."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [op, metric, start, end, parent]
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: int | None = None
        self.stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- instrumentation --

    def install(self) -> None:
        for module, attr, metric in TARGETS:
            owner = importlib.import_module(module)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            original = owner.__dict__[attr]
            self._restore.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, metric))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def _open(self, metric: str) -> int:
        idx = len(self.spans)
        self.spans.append([self.op, metric, time.perf_counter(), None,
                           self.stack[-1] if self.stack else None])
        self.stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self.stack.pop()

    def _wrap(self, fn, metric: str):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.op is None:  # the load generator's own calls
                return fn(*args, **kwargs)
            idx = tracer._open(metric)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            counts = tracer.counts[tracer.op]
            if metric == "datamodel.uuid_ms":
                counts["datamodel.uuid_calls"] += 1
            elif metric == "storage.prune_ms":
                counts["storage.files_listed"] += len(args[1])
                counts["storage.files_kept"] += len(out)
            if hasattr(out, "__next__"):  # generator: time each pull
                return tracer._iterate(out, metric)
            return out

        traced.__wrapped__ = fn
        return traced

    def _iterate(self, it, metric: str):
        try:
            while True:
                idx = self._open(metric)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    self._close(idx)
                yield item
        finally:
            it.close()

    def begin_op(self, op_id: int) -> int:
        self.op = op_id
        return self._open("server.self_ms")

    def end_op(self, root: int) -> None:
        self._close(root)
        self.op = None

    # -- summary --

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per op, per metric: span time minus time covered by children
        (calls are single-threaded, so children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                out[s[0]][s[1]] += (s[3] - s[2] - child[i]) * 1000.0
        return out


class SparkCounters:
    """Per-op Spark job/stage/task metrics from the status store, JVM GC
    from the GC MXBeans over py4j, JVM CPU from /proc, and driver Python
    CPU from ``time.process_time``. Jobs are attributed by the
    scheduler's job-id counter before and after each op, so jobs that the
    program runs from its own threads are counted too."""

    def __init__(self, spark, jvm_pid: int | None):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm_pid = jvm_pid
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())

    def _jvm_cpu_ms(self) -> float:
        if self.jvm_pid is None:
            return 0.0
        import os

        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")

    def snapshot(self) -> tuple:
        return (self.jsc.dagScheduler().numTotalJobs(),
                sum(b.getCollectionTime() for b in self.gc_beans),
                self._jvm_cpu_ms(), time.process_time())

    def delta(self, before: tuple) -> dict[str, float]:
        after = self.snapshot()
        jobs = list(range(before[0], after[0]))
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        out["spark.jobs"] = len(jobs)
        out["jvm.gc_ms"] = after[1] - before[1]
        out["jvm.cpu_ms"] = after[2] - before[2]
        out["driver.py_cpu_ms"] = (after[3] - before[3]) * 1000.0
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        deadline = time.perf_counter() + 2.0
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            # The listener bus is asynchronous: wait until the store has
            # seen the job end, which follows all of its stage ends.
            while (info is None or info.status == "RUNNING") and time.perf_counter() < deadline:
                time.sleep(0.005)
                info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numTasks()
            out["spark.failed_tasks"] += sd.numFailedTasks()
            out["spark.exec_run_ms"] += sd.executorRunTime()
            out["spark.exec_gc_ms"] += sd.jvmGcTime()
            out["spark.input_bytes"] += sd.inputBytes()
            out["spark.shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def summarize(tracer: Tracer, op_log: list[dict], spark_ops: dict[int, dict],
              timed: list[dict]) -> dict[str, float]:
    """Per-layer metrics from one traced run. Times are the median, over
    the ops that entered the layer, of the op's self time there; counts
    are per op over the same ops; ratios are ratios of totals.
    ``trace.op_p50_ms`` uses the same ops as the untraced ``op_p50_ms``
    (``timed``), so the two give the tracing overhead."""
    selfs = tracer.self_times()
    out: dict[str, float] = {}

    def med(values) -> float:
        values = list(values)
        return float(statistics.median(values)) if values else 0.0

    for metric in TIME_METRICS:
        out[metric] = med(t[metric] for t in selfs.values() if metric in t)
    count_keys = ("datamodel.uuid_calls", "storage.files_listed", "storage.files_kept")
    for key in count_keys:
        vals = [c[key] for c in tracer.counts.values() if key in c]
        out[key] = med(vals)
    listed = sum(c.get("storage.files_listed", 0) for c in tracer.counts.values())
    kept = sum(c.get("storage.files_kept", 0) for c in tracer.counts.values())
    out["storage.prune_keep_ratio"] = kept / listed if listed else 0.0
    out["server.resp_bytes"] = med(r["bytes"] for r in op_log)
    out["ingest.samples"] = med(r["samples"] for r in op_log if r["name"] in INGEST_ROUTES)
    out["exporters.rows_out"] = med(
        r["rows"] for r in op_log if "exporters.ms" in selfs.get(r["id"], {}))
    served = [r["served_from"] for r in op_log if r["served_from"] is not None]
    out["query.rollup_served_share"] = (
        sum(s != "raw" for s in served) / len(served) if served else 0.0)
    for metric in SPARK_METRICS:
        out[metric] = med(s[metric] for s in spark_ops.values())
    out["trace.op_p50_ms"] = med(r["ms"] for r in timed)
    return out

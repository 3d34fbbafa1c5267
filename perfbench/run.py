"""Gateway benchmark for sensapp_spark.

    python3 perfbench/run.py --workload gateway_read --seed 1 --seconds 5 --trace 0

Run from the repository root. One run sets up a fresh lake under
``.perfbench_work/`` in the current directory, repeats whole rounds of
the workload's seeded op sequence through the Flask test client of
``create_app(spark, lake)`` until ``--seconds`` have passed, checks every
answer against what the generator wrote, and prints one JSON result as
the last line of stdout (metadata goes on the line before it).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
the span wrappers and Spark counters of ``tracing.py`` and reports the
per-layer metrics instead (see LAYERS.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from truth import WrongAnswer  # noqa: E402

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "cpu_ms_per_op": "ms"}
DRIVER_HEAP = "2g"


def run_op(client, op) -> tuple[object, float]:
    kwargs = {}
    if op.body is not None:
        kwargs["data"] = op.body
    if op.headers:
        kwargs["headers"] = op.headers
    if op.content_type:
        kwargs["content_type"] = op.content_type
    start = time.perf_counter()
    resp = client.open(op.path, method=op.method, **kwargs)
    resp.get_data()  # drain a streamed body inside the timed region
    return resp, (time.perf_counter() - start) * 1000.0


def execute(client, op) -> tuple[dict, str | None]:
    """Run and check one op. Returns its record and an error, if any."""
    rec = {"name": op.name, "cls": op.cls, "ms": 0.0, "cpu_ms": 0.0, "rows": 0,
           "bytes": 0, "samples": 0, "served_from": None}
    try:
        cpu0 = procfs.tree_cpu_ms()
        resp, rec["ms"] = run_op(client, op)
        rec["cpu_ms"] = procfs.tree_cpu_ms() - cpu0
        data = resp.get_data()
        rec["bytes"] = len(data)
        rec["served_from"] = resp.headers.get("X-Served-From")
        if resp.status_code != op.ok_status:
            raise WrongAnswer(f"HTTP {resp.status_code}: {data[:200]!r}")
        if op.on_ack is not None:
            op.on_ack()
            rec["samples"] = op.samples
        rec["rows"] = op.check(resp)
        resp.close()
        return rec, None
    except Exception as e:  # any failure counts against the run
        return rec, f"{op.name} {op.path[:120]}: {type(e).__name__}: {e}"


class Runner:
    """Runs ops one at a time (closed loop, one client), with optional
    spans and Spark counters per op."""

    def __init__(self, client, errors: list[str]):
        self.client = client
        self.errors = errors
        self.records: list[dict] = []
        self.tracer = None
        self.counters = None
        self.spark_ops: dict[int, dict] = {}

    def run(self, op) -> dict:
        op_id = len(self.records)
        if self.tracer:
            before = self.counters.snapshot()
            root = self.tracer.begin_op(op_id)
        rec, err = execute(self.client, op)
        if self.tracer:
            self.tracer.end_op(root)
            self.spark_ops[op_id] = self.counters.delta(before)
        rec["id"] = op_id
        rec["failed"] = err is not None
        self.records.append(rec)
        if err:
            self.errors.append(err)
        return rec

    def window(self, rounds, seconds: float) -> float:
        """Run whole rounds until ``seconds`` have passed: the round in
        progress runs to its end, so every run weighs each template the
        same. Returns the time the rounds took."""
        t0 = time.perf_counter()
        for ops in rounds:
            for op in ops:
                self.run(op)
            if time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0
        raise AssertionError("rounds are endless")


def check_totals(client, truth) -> str | None:
    """Rows per typed table (from the sidecar partition stats) must equal
    the samples the gateway acknowledged."""
    resp = client.get("/api/v1/admin/stats?partitions=1")
    stats = resp.get_json()
    for stype, want in truth.rows_per_type().items():
        parts = (stats.get(stype) or {}).get("partitions")
        got = sum(p["rows"] for p in parts.values()) if parts else None
        if got != want:
            return f"{stype} rows: got {got}, want {want}"
    return None


def layout(lake, truth) -> dict[str, float]:
    from sensapp_spark.datamodel.types import SensorType, value_table_name
    from sensapp_spark.storage.lake import resolve_table

    live = resolve_table(os.path.join(lake.root, value_table_name(SensorType.FLOAT)))
    files = size = 0
    for root, _, names in os.walk(live or ""):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    rows = truth.rows_per_type().get("float", 0)
    return {"storage.part_files": float(files),
            "storage.bytes_per_sample": size / rows if rows else 0.0}


def percentile(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def class_p50(timed: list[dict], cls: str) -> float:
    vals = [r["ms"] for r in timed if r["cls"] == cls]
    return statistics.median(vals) if vals else 0.0


def end_to_end(timed: list[dict], setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        # CPU time of the Python driver and the JVM while requests ran:
        # the cost a request puts on the host. Time spent waiting for a
        # CPU does not count, so host contention moves it far less than
        # latency (see LAYERS.md).
        "cpu_ms_per_op": sum(r["cpu_ms"] for r in timed) / len(timed),
    }


def git_commit() -> str:
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the program write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SENSAPP_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # A fixed heap and young generation: with a growing heap, peak RSS
        # jumped by ~400 MB between runs depending on when G1 expanded it.
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_HEAP} -Xmn512m' "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the py4j JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        from sensapp_spark.server.app import create_app
        from sensapp_spark.session import get_spark
        from sensapp_spark.storage.lake import SensorLake
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    prepare_env(work)
    meta = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "commit": git_commit(), "start": procfs.host_state()}
    nproc = len(os.sched_getaffinity(0))
    meta["nproc"] = nproc

    t_setup = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    errors: list[str] = []
    try:
        meta["spark"] = spark.version
        meta["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        lake = SensorLake(spark, os.path.join(work, "lake"))
        app = create_app(spark, lake)
        client = app.test_client()
        wl = WORKLOADS[args.workload](args.seed, time.time())
        # Set-up: load and maintain the lake, then warm the server's
        # slowest first calls.
        phases = {"spark_s": time.perf_counter() - t_setup}
        for phase, ops in (("load_s", wl.setup_requests()), ("warmup_s", wl.warmup())):
            t_phase = time.perf_counter()
            for op in ops:
                rec, err = execute(client, op)
                meta.setdefault("setup_ops", []).append((op.name, round(rec["ms"])))
                if err:
                    errors.append("setup: " + err)
            phases[phase] = time.perf_counter() - t_phase
        setup_s = time.perf_counter() - t_setup
        meta["setup_phases"] = phases

        runner = Runner(client, errors)
        if args.trace:
            from tracing import SparkCounters, Tracer

            runner.tracer = Tracer()
            runner.tracer.install()
            runner.counters = SparkCounters(spark, procfs.child_pid("java"))
        host0 = procfs.host_state()
        elapsed = runner.window(wl.ops(), args.seconds)
        timed = list(runner.records)
        meta["window_steal_share"] = procfs.steal_share(host0, procfs.host_state())
        if args.trace:
            for op in wl.closing_ops():
                runner.run(op)
            runner.tracer.uninstall()
        err = check_totals(client, wl.truth)
        if err:
            errors.append("totals: " + err)
        rss_mb = procfs.tree_peak_rss_kb() / 1024.0
        if args.trace:
            from tracing import summarize

            metrics = summarize(runner.tracer, runner.records, runner.spark_ops, timed)
            meta["trace_spans_per_op"] = len(runner.tracer.spans) / len(runner.records)
            metrics.update(layout(lake, wl.truth))
            units = {k: ("ms" if k.endswith("_ms") else
                         "ratio" if k.endswith(("_share", "_ratio")) else
                         "B" if k.endswith(("_bytes", "bytes_per_sample")) else "count")
                     for k in metrics}
        else:
            metrics = end_to_end(timed, setup_s, rss_mb)
            units = E2E_UNITS
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    meta["end"] = procfs.host_state()
    meta["steal_share"] = procfs.steal_share(meta["start"], meta["end"])
    records = runner.records
    failed = sum(r["failed"] for r in records)
    classes = sorted({r["cls"] for r in timed})
    meta.update(timed_ops=len(timed), timed_s=elapsed,
                ops_per_s=len(timed) / elapsed,
                op_p50_ms=statistics.median(r["ms"] for r in timed),
                failed_share=failed / max(1, len(records)),
                ops_by_class={c: sum(r["cls"] == c for r in timed) for c in classes},
                class_p50_ms={c: class_p50(timed, c) for c in classes},
                op_p90_ms=percentile([r["ms"] for r in timed], 90),
                errors=errors[:20],
                op_ms=[(r["name"], round(r["ms"])) for r in records])
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": not errors,
        "attempted": max(1, len(records)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

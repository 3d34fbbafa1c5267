"""Commit-log protocol + cross-PROCESS lake concurrency.

Every versioned table commits an immutable version directory by
claiming the next sequence number in its ``_commits/`` log
(storage/lake.py: commit_version); the log is the only table state.
These tests pin the protocol's guarantees:

* a reader that resolved the old version keeps scanning it safely
  through the NEXT commit (one generation of retention — the old
  double-rename rmtree'd the files out from under in-flight readers);
* there is never a moment without a committed table (the claim is one
  conditional create, made after the version dir is complete);
* old versions are pruned at two generations, so storage is bounded,
  and a commit touches nothing in the table root but version dirs and
  log entries (another writer's temp or staging dir survives it);
* one optimistic retry loop (``retry_commit``) re-reads and retries on
  a lost claim or a stale base, and reports exhaustion as
  ``CommitConflict`` chained from the last error;
* and — the round-6 verdict ask — two REAL processes (separate JVMs,
  separate Python drivers) publishing concurrently into the same lake
  lose nothing across process boundaries, not just across threads
  (test_lake_streaming.py covers the thread case).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from sensapp_spark.storage.lake import (
    SensorLake,
    atomic_overwrite,
    resolve_table,
)

SENSOR_DDL = (
    "sensor_id string, name string, type string, unit string, "
    "unit_description string, labels map<string,string>"
)


def _upsert(lake, spark, ids):
    lake.upsert_sensors(
        spark.createDataFrame(
            [(i, f"name-{i}", "Float", None, None, {}) for i in ids],
            SENSOR_DDL,
        )
    )


def _versions(path):
    return sorted(d for d in os.listdir(path) if d.startswith("v_"))


def test_commit_pointer_flips_and_prunes(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    path = lake._sensors_path()

    _upsert(lake, spark, ["a"])
    v1 = _versions(path)
    assert len(v1) == 1
    assert resolve_table(path) == os.path.join(path, v1[0])

    _upsert(lake, spark, ["b"])
    v2 = _versions(path)
    # Previous version retained (reader grace), pointer at the new one.
    assert len(v2) == 2 and v2[0] == v1[0]
    assert resolve_table(path) == os.path.join(path, v2[1])

    _upsert(lake, spark, ["c"])
    v3 = _versions(path)
    # Two generations kept; the oldest pruned.
    assert len(v3) == 2 and v1[0] not in v3
    assert {r.sensor_id for r in lake.sensors().collect()} == {"a", "b", "c"}


def test_reader_survives_one_commit(spark, tmp_path):
    """A frame resolved before a commit still collects afterwards: its
    version dir is retained through the next commit instead of being
    deleted mid-scan (the race the old double-rename had)."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    _upsert(lake, spark, ["a"])
    old_reader = lake.sensors()  # resolves v1 now
    _upsert(lake, spark, ["b"])  # commits v2; v1 retained
    assert {r.sensor_id for r in old_reader.collect()} == {"a"}
    # The new resolution sees both.
    assert {r.sensor_id for r in lake.sensors().collect()} == {"a", "b"}


def test_log_head_always_names_a_complete_table(spark, tmp_path):
    """Between commits the highest commit-log entry names a directory
    with a _SUCCESS marker — the claim lands only after the version
    dir is complete, so no observable state lacks a complete table —
    and no pointer file is written beside the log."""
    from sensapp_spark.storage.lake import _entry_version, _log_entries

    lake = SensorLake(spark, str(tmp_path / "lake"))
    path = lake._sensors_path()
    for i in range(3):
        _upsert(lake, spark, [f"s{i}"])
        head = _log_entries(path)[-1]
        current = os.path.join(path, _entry_version(path, head))
        assert resolve_table(path) == current
        assert os.path.exists(os.path.join(current, "_SUCCESS"))
        assert not os.path.exists(os.path.join(path, "_CURRENT"))


def test_crash_orphan_never_evicts_committed_predecessor(spark, tmp_path):
    """A never-log-referenced version dir (any name order) must not
    count toward the keep set: the committed predecessor survives the
    next commit. Since the cross-host CAS protocol, the commit path
    also never DELETES such a dir — it may be a live writer's in-flight
    commit, not a crash orphan; reclaiming genuinely dead ones is
    vacuum_orphans' age-gated job."""
    lake = SensorLake(spark, str(tmp_path / "lake"))
    path = lake._sensors_path()
    _upsert(lake, spark, ["a"])  # commits v_00000001_*
    (v1,) = _versions(path)
    # Crash artifacts: one orphan sorting AFTER the committed version,
    # one BETWEEN it and the next commit's name.
    os.makedirs(os.path.join(path, "v_00000099_orphan"))
    os.makedirs(os.path.join(path, f"{v1}x_orphan"))
    _upsert(lake, spark, ["b"])  # commits v_00000100_* (max seq + 1)
    kept = _versions(path)
    assert v1 in kept, "committed predecessor was evicted"
    # Commit-time pruning leaves the unreferenced dirs alone…
    assert sum("orphan" in d for d in kept) == 2, "in-flight dir deleted"
    # …a young orphan survives the vacuum age gate…
    assert lake.vacuum_orphans(min_age_s=3600) == {}
    # …and an old one is reclaimed (age 0 = everything unreferenced).
    deleted = lake.vacuum_orphans(min_age_s=0.0)
    assert sorted(deleted.get("sensors", [])) == sorted(
        ["v_00000099_orphan", f"{v1}x_orphan"]
    )
    kept = _versions(path)
    assert v1 in kept and len(kept) == 2
    assert {r.sensor_id for r in lake.sensors().collect()} == {"a", "b"}


def test_unwritten_and_inflight_tables_resolve_none(spark, tmp_path):
    path = str(tmp_path / "t")
    assert resolve_table(path) is None
    # A first commit in flight (version dir exists, log entry not yet
    # claimed) is still "never written".
    os.makedirs(os.path.join(path, "v_00000001_deadbeef"))
    assert resolve_table(path) is None


def test_conditional_commit_detects_stale_base(spark, tmp_path):
    """atomic_overwrite(expected_seq=…) is the CAS write half: a writer
    whose merge base went stale gets CommitConflict, the committed
    table is untouched, and the loser's version dir is reclaimed
    immediately (not left for vacuum)."""
    from sensapp_spark.storage.lake import CommitConflict, read_committed

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("x", "n", "Float", None, None, {})],
                               SENSOR_DDL)
    seq0 = atomic_overwrite(df, path)  # seq 1
    seq, data = read_committed(path)
    assert (seq, data) == (seq0, resolve_table(path))
    atomic_overwrite(df, path, expected_seq=seq)  # winner: seq 2
    with pytest.raises(CommitConflict):
        atomic_overwrite(df, path, expected_seq=seq)  # stale base
    new_seq, new_data = read_committed(path)
    assert new_seq == seq + 1
    # Loser's dir reclaimed: only the two committed generations remain.
    assert len(_versions(path)) == 2


def test_failed_write_reclaims_version_dir(spark, tmp_path):
    """A commit whose WRITE job fails (here: a raise_error expression)
    must reclaim its never-claimed version dir instead of leaving a
    crash orphan for vacuum (round-7 review)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("x", "n", "Float", None, None, {})],
                               SENSOR_DDL)
    atomic_overwrite(df, path)
    poisoned = df.withColumn(
        "name", F.raise_error(F.lit("boom")).cast("string")
    )
    with pytest.raises(Exception, match="boom"):
        atomic_overwrite(poisoned, path)
    assert len(_versions(path)) == 1  # only the committed version
    assert resolve_table(path) is not None


def test_vacuum_reclaims_stale_claim_temps(spark, tmp_path):
    """A writer that dies between staging its claim temp and linking it
    leaves `.claim_*` inside _commits/ — vacuum_orphans sweeps those
    with the same age gate (round-7 review: the old check scanned the
    wrong directory and could never match)."""
    import os

    from sensapp_spark.storage.lake import COMMITS_DIR, vacuum_orphans

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("x", "n", "Float", None, None, {})],
                               SENSOR_DDL)
    atomic_overwrite(df, path)
    stale = os.path.join(path, COMMITS_DIR, ".claim_deadbeef")
    with open(stale, "w") as f:
        f.write("v_junk")
    assert vacuum_orphans(path, min_age_s=3600) == []  # age-gated
    deleted = vacuum_orphans(path, min_age_s=0.0)
    assert os.path.join(COMMITS_DIR, ".claim_deadbeef") in deleted
    assert not os.path.exists(stale)
    assert resolve_table(path) is not None


def test_commit_keeps_an_in_flight_append_staging_dir(spark, tmp_path):
    """An append stages its job in a private `.stage_*` dir beside the
    versions. A commit that prunes legacy data must leave it alone, or
    the concurrent append's job commit fails with `_temporary/0 does
    not exist`; a crashed writer's staging dir is reclaimed by the
    age-gated vacuum."""
    from sensapp_spark.storage.lake import STAGE_PREFIX, vacuum_orphans

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("x", "n", "Float", None, None, {})],
                               SENSOR_DDL)
    atomic_overwrite(df, path)
    stage = os.path.join(path, f"{STAGE_PREFIX}inflight", "_temporary")
    os.makedirs(stage)
    atomic_overwrite(df, path)
    atomic_overwrite(df, path)
    assert os.path.isdir(stage)
    assert vacuum_orphans(path, min_age_s=3600) == []
    assert vacuum_orphans(path, min_age_s=0.0) == [f"{STAGE_PREFIX}inflight"]
    assert resolve_table(path) is not None


def test_maintenance_folds_in_concurrent_append(spark, tmp_path):
    """Round 7: an append landing DURING a maintenance rewrite is no
    longer lost — the rewrite pins its read set, and post-commit
    reconciliation folds in files that appeared in the superseded
    version (re-applying the transform, so a late duplicate still
    dedupes). This replaces the round-6 'run maintenance in a quiet
    window' contract."""
    import datetime as dtm

    from sensapp_spark.datamodel.types import SensorType

    lake = SensorLake(spark, str(tmp_path / "lake"))
    t0 = dtm.datetime(2024, 1, 1)
    rows = [("s1", t0, 1.0), ("s1", t0, 1.0), ("s2", t0, 2.0)]
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            rows, "sensor_id string, time timestamp, value double"
        ),
    )

    def inject_append():
        # Resolves the CURRENT (pre-rewrite) version — the file lands
        # in the dir the rewrite has already pinned its read set from.
        lake.append_values(
            SensorType.FLOAT,
            spark.createDataFrame(
                [("s3", t0, 3.0), ("s3", t0, 3.0)],
                "sensor_id string, time timestamp, value double",
            ),
        )

    lake.dedup_rewrite(SensorType.FLOAT, _test_after_plan=inject_append)
    got = sorted(
        (r.sensor_id, r.value)
        for r in lake.values(SensorType.FLOAT).collect()
    )
    # Duplicates gone — including within the late-arriving append.
    assert got == [("s1", 1.0), ("s2", 2.0), ("s3", 3.0)]


def test_stale_scan_error_classifier():
    from sensapp_spark.storage.lake import _is_stale_scan_error

    assert _is_stale_scan_error(
        RuntimeError("java.io.FileNotFoundException: /x/v_1/part-0")
    )
    assert _is_stale_scan_error(ValueError("[PATH_NOT_FOUND] no such"))
    # Hard-linking from a base pruned meanwhile (driver side).
    assert _is_stale_scan_error(FileNotFoundError("/x/v_1/part-0"))
    assert not _is_stale_scan_error(RuntimeError("OutOfMemoryError"))
    assert not _is_stale_scan_error(PermissionError("/x/v_1"))


def test_retry_commit_exhaustion_chains_the_last_stale_error(tmp_path):
    """Retries that never stop going stale end in CommitConflict whose
    __cause__ is the LAST stale error — a permanent failure (here a
    base that is always gone) stays visible instead of reading as
    plain writer contention. Each attempt re-reads the table."""
    from sensapp_spark.storage.lake import CommitConflict, retry_commit

    calls = []

    def attempt(seq, data):
        calls.append((seq, data))
        raise FileNotFoundError(f"attempt {len(calls)}: base gone")

    with pytest.raises(CommitConflict, match="lost 3 consecutive") as ei:
        retry_commit(str(tmp_path / "t"), attempt, 3, "probe")
    assert calls == [(0, None)] * 3
    assert isinstance(ei.value.__cause__, FileNotFoundError)
    assert "attempt 3" in str(ei.value.__cause__)


def test_retry_commit_propagates_a_non_stale_error_at_once(tmp_path):
    from sensapp_spark.storage.lake import retry_commit

    calls = []

    def attempt(seq, data):
        calls.append(seq)
        raise ValueError("bad input")

    with pytest.raises(ValueError, match="bad input"):
        retry_commit(str(tmp_path / "t"), attempt, 5, "probe")
    assert calls == [0]


def test_commits_keep_foreign_files_in_every_table_root(spark, tmp_path):
    """A commit deletes nothing in the table root but version dirs and
    log entries it retires. Another committer's in-flight metadata
    temp (``._x.tmp.<hex>``, the name PosixLogStore.put gives its
    temps) and any foreign dotfile must survive three commits of a
    sensors table, a values table, a rollup table and an ANN layout —
    a commit that swept them failed the other writer's os.replace
    after its claim had landed."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.storage.ann import AnnIndexStore
    from sensapp_spark.storage.lake import read_committed
    from sensapp_spark.storage.rollup import RollupStore

    swept = {}

    def check(path, commit):
        planted = [
            os.path.join(path, "._x.tmp.deadbeef"),
            os.path.join(path, ".foreign"),
        ]
        for f in planted:
            with open(f, "w") as fh:
                fh.write("in flight")
        seq0 = read_committed(path)[0]
        for i in range(3):
            commit(i)
        assert read_committed(path)[0] == seq0 + 3, path
        gone = [f for f in planted if not os.path.exists(f)]
        if gone:
            swept[os.path.relpath(path, str(tmp_path))] = gone

    lake = SensorLake(spark, str(tmp_path / "lake"))
    _upsert(lake, spark, ["s-0"])
    check(lake._sensors_path(), lambda i: _upsert(lake, spark, [f"s{i}"]))

    ft = SensorType.FLOAT
    t0 = dtm.datetime(2024, 1, 1)

    def append(i):
        lake.append_values(
            ft, spark.createDataFrame([("s1", t0, float(i))], VALUES_DDL)
        )

    append(-1)
    check(lake._values_path(ft), lambda i: lake.dedup_rewrite(ft))

    store = RollupStore(lake)
    store.refresh(ft)

    def refresh(i):
        append(i)
        store.refresh(ft)

    check(store._path(ft), refresh)

    ann = AnnIndexStore(spark, str(tmp_path / "ann"))
    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.col("id") * (k + 1) % 5 - 2).cast("float") for k in range(4)
        ]).alias("embedding"),
    )
    ann.write_lsh(vecs, name="t", n_planes=2, dim=4)
    check(ann._path("t"), lambda i: ann.append("t", vecs))
    assert swept == {}


# Two workers SIMULATING TWO HOSTS: the file barrier forces both to pin
# their merge base BEFORE either commits — the exact interleaving that
# silently loses one writer's sensors under read-merge-write protected
# only by a per-kernel flock the "other host" doesn't share. Under the
# CAS protocol the loser's conditional commit fails, it re-merges
# against the winner's table, and both sensors survive.
CAS_WORKER = textwrap.dedent(
    """
    import os
    import sys
    import time

    repo, lake_root, tag, barrier = (
        sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
    )
    sys.path.insert(0, repo)
    from sensapp_spark.session import get_spark
    from sensapp_spark.storage.lake import SensorLake

    spark = get_spark(app_name=f"cas-worker-{tag}", master="local[2]",
                      shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    lake = SensorLake(spark, lake_root)
    ddl = ("sensor_id string, name string, type string, unit string, "
           "unit_description string, labels map<string,string>")
    attempts = {"n": 0}

    def pause():
        attempts["n"] += 1
        if attempts["n"] > 1:
            return  # retries proceed immediately — base is now fresh
        open(os.path.join(barrier, f"pinned_{tag}"), "w").close()
        deadline = time.time() + 120
        while time.time() < deadline:
            pinned = [f for f in os.listdir(barrier)
                      if f.startswith("pinned_")]
            if len(pinned) >= 2:
                return
            time.sleep(0.02)
        raise RuntimeError("barrier timeout: peer never pinned its base")

    lake.upsert_sensors(
        spark.createDataFrame(
            [(f"s-{tag}", f"name-{tag}", "Float", None, None, {})], ddl
        ),
        _pause_before_commit=pause,
    )
    print(f"ATTEMPTS {attempts['n']}")
    spark.stop()
    """
)


def test_two_hosts_lost_update_closed_by_cas(spark, tmp_path):
    """The round-6 verdict's #1 ask, verified end-to-end: two real
    processes both read the same dimension state, then both commit.
    Exactly one wins the link(2) claim; the other observes
    CommitConflict, re-merges, and commits on top — no lost sensor,
    and the attempt counts prove the conflict actually fired (1 clean
    + 2 with one retry), i.e. the race happened rather than being
    accidentally serialized."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lake_root = str(tmp_path / "lake")
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    script = tmp_path / "cas_worker.py"
    script.write_text(CAS_WORKER)

    procs = []
    for tag in ("h1", "h2"):
        cwd = tmp_path / f"cwd_{tag}"
        cwd.mkdir()
        procs.append(
            subprocess.Popen(
                [sys.executable, str(script), repo, lake_root, tag,
                 str(barrier)],
                cwd=str(cwd),
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
        )
    attempts = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-2000:]
        for line in out.decode().splitlines():
            if line.startswith("ATTEMPTS"):
                attempts.append(int(line.split()[1]))

    assert sorted(attempts) == [1, 2], (
        f"expected exactly one CAS retry, got attempts={attempts}"
    )
    lake = SensorLake(spark, lake_root)
    got = {r.sensor_id for r in lake.sensors().collect()}
    assert got == {"s-h1", "s-h2"}, f"lost update: {got}"


WORKER = textwrap.dedent(
    """
    import datetime as dt
    import sys

    repo, lake_root, tag = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, repo)
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.session import get_spark
    from sensapp_spark.storage.lake import SensorLake

    spark = get_spark(app_name=f"lake-worker-{tag}", master="local[2]",
                      shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    lake = SensorLake(spark, lake_root)
    ddl = ("sensor_id string, name string, type string, unit string, "
           "unit_description string, labels map<string,string>")
    for i in range(4):
        lake.upsert_sensors(spark.createDataFrame(
            [(f"{tag}-{i}", f"name-{tag}-{i}", "Float", None, None, {})],
            ddl,
        ))
        # Interleaved lock-free appends into the shared float table:
        # both workers' rows must survive (unique part files), and the
        # FIRST append's version-1 creation must not orphan the other
        # worker's pointer flip (the locked creation branch).
        lake.append_values(SensorType.FLOAT, spark.createDataFrame(
            [(f"{tag}-{i}", dt.datetime(2024, 1, 1, i), float(i))],
            "sensor_id string, time timestamp, value double",
        ))
    spark.stop()
    """
)


def test_two_real_processes_publish_concurrently(spark, tmp_path):
    """Two separate driver PROCESSES (each its own JVM) interleave eight
    upserts into one lake: the kernel flock serializes each
    read-merge-swap across process boundaries, so all eight sensors
    survive and the final table is a single committed version."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lake_root = str(tmp_path / "lake")
    script = tmp_path / "worker.py"
    script.write_text(WORKER)

    procs = []
    for tag in ("p1", "p2"):
        cwd = tmp_path / f"cwd_{tag}"
        cwd.mkdir()
        procs.append(
            subprocess.Popen(
                [sys.executable, str(script), repo, lake_root, tag],
                cwd=str(cwd),
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
        )
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-2000:]

    lake = SensorLake(spark, lake_root)
    got = {r.sensor_id for r in lake.sensors().collect()}
    want = {f"{t}-{i}" for t in ("p1", "p2") for i in range(4)}
    assert got == want
    # Every append from both processes landed in the shared table —
    # the lock-free append path and the locked first-append creation
    # are race-free across real process boundaries.
    from sensapp_spark.datamodel.types import SensorType

    vals = {r.sensor_id for r in lake.values(SensorType.FLOAT).collect()}
    assert vals == want


# ---------------------------------------------------------------------------
# Round 8: the append-intent / manifest protocol that closes the
# "append racing a maintenance rewrite" windows the round-7 advisor
# flagged — torn _temporary staging entering the pinned read set, and
# a pre-commit-resolved append destroyed with the pruned superseded dir.
# ---------------------------------------------------------------------------

VALUES_DDL = "sensor_id string, time timestamp, value double"


def _float_lake(spark, tmp_path, rows):
    import datetime as dtm

    from sensapp_spark.datamodel.types import SensorType

    lake = SensorLake(spark, str(tmp_path / "lake"))
    t0 = dtm.datetime(2024, 1, 1)
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame([(s, t0, v) for s, v in rows], VALUES_DDL),
    )
    return lake, SensorType.FLOAT, t0


def _write_raw_part(data_dir, sensor_id, value):
    """A late-landing append simulated at the file level: one completed
    parquet part file appearing in a (possibly superseded) version dir,
    bypassing append_values' marker so the test controls timing."""
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    month_dir = os.path.join(data_dir, "month=2024-01")
    os.makedirs(month_dir, exist_ok=True)
    tbl = pa.table(
        {
            "sensor_id": pa.array([sensor_id], pa.string()),
            "time": pa.array(
                [dtm.datetime(2024, 1, 1)], pa.timestamp("us")
            ),
            "value": pa.array([value], pa.float64()),
        }
    )
    pq.write_table(
        tbl, os.path.join(month_dir, f"part-late-{sensor_id}.parquet")
    )


def test_list_data_files_skips_inflight_staging(tmp_path):
    """Spark's _temporary task-attempt staging (and any hidden dir) must
    never enter a rewrite's pinned read set or its late-file diff — the
    files there may be torn, and they reappear under their final names
    at job commit (advisor r7, high)."""
    from sensapp_spark.storage.lake import _list_data_files

    d = tmp_path / "v_x"
    (d / "month=2024-01").mkdir(parents=True)
    (d / "month=2024-01" / "part-0.parquet").write_bytes(b"ok")
    staging = d / "_temporary" / "0" / "_tmp" / "attempt_0"
    staging.mkdir(parents=True)
    (staging / "part-torn.parquet").write_bytes(b"\x00torn")
    (d / ".hidden" / "x").mkdir(parents=True)
    (d / ".hidden" / "x" / "part-h.parquet").write_bytes(b"h")
    got = _list_data_files(str(d))
    assert got == [str(d / "month=2024-01" / "part-0.parquet")]


def test_rewrite_tolerates_torn_staging_and_folds_once(spark, tmp_path):
    """A concurrent append injected DURING the rewrite together with a
    torn _temporary staging file: the rewrite must neither crash on the
    torn file nor fold the completed rows twice."""
    from sensapp_spark.storage.lake import resolve_table

    lake, ftype, t0 = _float_lake(
        spark, tmp_path, [("s1", 1.0), ("s1", 1.0), ("s2", 2.0)]
    )
    path = lake._values_path(ftype)

    def inject():
        data = resolve_table(path)
        staging = os.path.join(data, "_temporary", "0", "task")
        os.makedirs(staging, exist_ok=True)
        with open(os.path.join(staging, "part-torn.parquet"), "wb") as f:
            f.write(b"\x00not a parquet footer")
        lake.append_values(
            ftype,
            spark.createDataFrame([("s3", t0, 3.0)], VALUES_DDL),
        )

    lake.dedup_rewrite(ftype, quiesce_wait_s=1.0, _test_after_plan=inject)
    got = sorted(
        (r.sensor_id, r.value) for r in lake.values(ftype).collect()
    )
    assert got == [("s1", 1.0), ("s2", 2.0), ("s3", 3.0)]


def test_rewrite_waits_for_announced_append(spark, tmp_path):
    """An appender that RESOLVED the pre-rewrite version and dropped its
    intent marker, but whose files land only after the rewrite commits:
    the reconciliation loop must honor the marker, wait, and fold the
    rows — not declare the listing clean and exit."""
    import threading

    from sensapp_spark.storage.lake import resolve_table

    lake, ftype, _t0 = _float_lake(spark, tmp_path, [("s1", 1.0)])
    path = lake._values_path(ftype)
    state = {}

    def inject():
        data = resolve_table(path)
        marker = os.path.join(data, ".append_testmarker")
        open(marker, "w").close()

        def finish():
            import time as _t

            _t.sleep(1.0)
            _write_raw_part(data, "s-late", 9.0)
            os.unlink(marker)

        state["thread"] = threading.Thread(target=finish)
        state["thread"].start()

    lake.dedup_rewrite(ftype, quiesce_wait_s=15.0, _test_after_plan=inject)
    state["thread"].join()
    got = sorted(
        (r.sensor_id, r.value) for r in lake.values(ftype).collect()
    )
    assert got == [("s-late", 9.0), ("s1", 1.0)]


def test_late_append_survives_via_manifest_fold(spark, tmp_path):
    """An append that finishes AFTER the rewrite's reconciliation: its
    rows land in the superseded (manifested, grace-kept) dir, the next
    maintenance pass folds them in, and only then does vacuum reclaim
    the dir."""
    from sensapp_spark.storage.lake import (
        RECONCILED_MANIFEST,
        resolve_table,
    )

    lake, ftype, _t0 = _float_lake(
        spark, tmp_path, [("s1", 1.0), ("s1", 1.0)]
    )
    path = lake._values_path(ftype)
    superseded = resolve_table(path)
    lake.dedup_rewrite(ftype)
    # Grace contract: the superseded dir survives the rewrite (and its
    # reconciliation commits) carrying a manifest of what was folded.
    assert os.path.isdir(superseded)
    assert os.path.exists(os.path.join(superseded, RECONCILED_MANIFEST))

    # The too-late append lands at the file level in the dead dir.
    _write_raw_part(superseded, "s-straggler", 7.0)

    # Vacuum refuses while unfolded extras exist (module-level call —
    # no fold), then the lake-level vacuum folds and reclaims.
    from sensapp_spark.storage.lake import vacuum_orphans as vac

    assert vac(path, min_age_s=0.0) == []
    assert os.path.isdir(superseded)

    deleted = lake.vacuum_orphans(min_age_s=0.0)
    got = sorted(
        (r.sensor_id, r.value) for r in lake.values(ftype).collect()
    )
    assert got == [("s-straggler", 7.0), ("s1", 1.0)]
    assert not os.path.isdir(superseded)
    assert os.path.basename(superseded) in deleted.get(
        os.path.basename(path), []
    )


# ---------------------------------------------------------------------------
# Round 8: time travel + retention (VERSION AS OF over the commit log).
# ---------------------------------------------------------------------------


def test_time_travel_reads_retained_versions(spark, tmp_path):
    """With retain_generations=4, earlier dimension states stay readable
    via at_seq; history() describes them; reads past the window raise
    the didactic VersionNotRetained."""
    from sensapp_spark.storage.lake import VersionNotRetained

    lake = SensorLake(spark, str(tmp_path / "lake"), retain_generations=4)
    _upsert(lake, spark, ["a"])           # seq 1
    _upsert(lake, spark, ["b"])           # seq 2
    _upsert(lake, spark, ["c"])           # seq 3
    hist = lake.history()
    assert [h["seq"] for h in hist] == [1, 2, 3]
    assert [h["on_disk"] for h in hist] == [True, True, True]
    assert [h["current"] for h in hist] == [False, False, True]

    assert {r.sensor_id for r in lake.sensors(at_seq=1).collect()} == {"a"}
    assert {r.sensor_id for r in lake.sensors(at_seq=2).collect()} == {
        "a", "b",
    }
    assert {r.sensor_id for r in lake.sensors().collect()} == {
        "a", "b", "c",
    }
    with pytest.raises(VersionNotRetained, match="not in"):
        lake.sensors(at_seq=9)


def test_default_retention_prunes_and_raises(spark, tmp_path):
    """Default retain_generations=2: seq 1's data dir is pruned by the
    third commit; at_seq=1 raises rather than reading a missing dir, and
    history reports on_disk=False while the log entry survives."""
    from sensapp_spark.storage.lake import VersionNotRetained

    lake = SensorLake(spark, str(tmp_path / "lake"))
    _upsert(lake, spark, ["a"])
    _upsert(lake, spark, ["b"])
    _upsert(lake, spark, ["c"])
    hist = {h["seq"]: h for h in lake.history()}
    assert not hist[1]["on_disk"]
    assert hist[2]["on_disk"] and hist[3]["on_disk"]
    with pytest.raises(VersionNotRetained, match="pruned"):
        lake.sensors(at_seq=1)
    # The grace generation is still time-travel readable.
    assert {r.sensor_id for r in lake.sensors(at_seq=2).collect()} == {
        "a", "b",
    }


def test_time_travel_values_across_rewrite(spark, tmp_path):
    """A maintenance rewrite creates a new commit; at_seq reads the
    pre-rewrite values (duplicates intact) while the live read sees the
    deduped table."""
    from sensapp_spark.datamodel.types import SensorType

    lake, ftype, _t0 = _float_lake(
        spark, tmp_path, [("s1", 1.0), ("s1", 1.0)]
    )
    [pre] = [h["seq"] for h in lake.history(ftype) if h["current"]]
    lake.dedup_rewrite(ftype)
    assert lake.values(ftype).count() == 1
    assert lake.values(ftype, at_seq=pre).count() == 2

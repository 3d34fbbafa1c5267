"""Partition-grain retention (SensorLake.expire_before): drop whole
month partitions as a METADATA-ONLY commit — hardlinked kept files,
filtered zone-map carry, tombstone against late-fold resurrection, and
lazy row-grain CDC from the superseded dir.

Beyond-reference (the reference has no retention at all); the analogue
is ClickHouse TTL / Timescale drop_chunks / a Delta remove-files-only
commit. The load-bearing property at 100 TB is ZERO DATA READS — the
expire of a petabyte-month must cost O(files) metadata, which
test_expire_reads_no_data pins by truncating every parquet first."""

import datetime as dt
import os
import shutil

import pytest

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.storage import zonemap as zm
from sensapp_spark.storage.lake import (
    SensorLake,
    atomic_overwrite,
    read_committed,
    resolve_table,
)

OLD1 = dt.datetime(2023, 11, 3, 8)
OLD2 = dt.datetime(2023, 12, 9, 12)
BOUND_EARLY = dt.datetime(2024, 1, 2, 0)   # cutoff month, before cutoff
KEEP = dt.datetime(2024, 2, 5, 10)
CUTOFF = dt.datetime(2024, 1, 15, 0)


def _vals(spark, rows):
    return spark.createDataFrame(
        rows, "sensor_id string, time timestamp, value double"
    )


def _mklake(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT,
        _vals(
            spark,
            [
                ("a", OLD1, 1.0),
                ("b", OLD2, 2.0),
                ("a", BOUND_EARLY, 3.0),
                ("c", KEEP, 4.0),
            ],
        ),
    )
    return lake


def test_expire_drops_whole_months_keeps_boundary(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    out = lake.expire_before(CUTOFF, SensorType.FLOAT)
    assert out["FLOAT"]["months"] == ["2023-11", "2023-12"]
    assert out["FLOAT"]["files"] >= 2
    left = {
        (r.sensor_id, r.value)
        for r in lake.values(SensorType.FLOAT).collect()
    }
    # Partition grain: the row inside the cutoff month but BEFORE the
    # cutoff instant survives — the documented drop_chunks trade.
    assert left == {("a", 3.0), ("c", 4.0)}


def test_expire_is_noop_when_nothing_older(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    seq_before = read_committed(path)[0]
    out = lake.expire_before(dt.datetime(2023, 10, 1), SensorType.FLOAT)
    assert out == {}
    assert read_committed(path)[0] == seq_before


def test_expire_reads_no_data(spark, tmp_path):
    """The zero-IO pin: truncate EVERY parquet data file to 0 bytes —
    any attempt to read one dies — and expire anyway. The commit must
    land with the correct file set."""
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    data = resolve_table(path)
    for root, _dirs, files in os.walk(data):
        for f in files:
            if f.endswith(".parquet"):
                open(os.path.join(root, f), "w").close()
    out = lake.expire_before(CUTOFF, SensorType.FLOAT)
    assert out["FLOAT"]["months"] == ["2023-11", "2023-12"]
    new_data = resolve_table(path)
    rels = set()
    for root, _dirs, files in os.walk(new_data):
        for f in files:
            if f.endswith(".parquet"):
                rels.add(
                    os.path.relpath(os.path.join(root, f), new_data)
                )
    assert rels  # kept files carried
    assert all(not r.startswith("month=2023-") for r in rels)
    assert any(r.startswith("month=2024-01") for r in rels)
    assert any(r.startswith("month=2024-02") for r in rels)


def test_expire_hardlinks_kept_files(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    old = resolve_table(path)
    old_inodes = {}
    for root, _dirs, files in os.walk(old):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                old_inodes[os.path.relpath(full, old)] = os.stat(
                    full
                ).st_ino
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    new = resolve_table(path)
    linked = 0
    for root, _dirs, files in os.walk(new):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, new)
                assert os.stat(full).st_ino == old_inodes[rel]
                linked += 1
    assert linked >= 2  # zero bytes copied: same inodes


def test_expire_carries_filtered_zonemap(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    lake.refresh_zonemap(SensorType.FLOAT)
    path = lake._values_path(SensorType.FLOAT)
    old_map = zm.read_zonemap(resolve_table(path))
    assert old_map  # precondition: sidecar exists
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    new_data = resolve_table(path)
    new_map = zm.read_zonemap(new_data)
    assert new_map is not None
    assert set(new_map) == {
        r for r in old_map if not r.startswith("month=2023-")
    }
    # Entries transferred VERBATIM (no footer re-read, sketches intact).
    for r, st in new_map.items():
        assert st == old_map[r]
    # And the carried map still prunes: a probe inside the kept window
    # plans only the kept files it should.
    assert lake.values(
        SensorType.FLOAT,
        start=dt.datetime(2024, 2, 1),
        end=dt.datetime(2024, 3, 1),
    ).count() == 1


def test_expire_cdc_crossing_delivers_lazy_deletes(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    _, cur = lake.changes(SensorType.FLOAT, cdc=True)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    delta, cur2 = lake.changes(SensorType.FLOAT, cur, cdc=True)
    assert cur2["reset"] is False
    rows = {
        (r.sensor_id, r.value, r._change_type) for r in delta.collect()
    }
    assert rows == {("a", 1.0, "delete"), ("b", 2.0, "delete")}
    # Caught up: next poll is empty.
    none, _ = lake.changes(SensorType.FLOAT, cur2, cdc=True)
    assert none.count() == 0


def test_expire_without_cdc_resets_honestly(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    _, cur = lake.changes(SensorType.FLOAT)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    snap, cur2 = lake.changes(SensorType.FLOAT, cur)
    assert cur2["reset"] is True  # deletes inexpressible without cdc
    assert snap.count() == 2  # full surviving snapshot


def test_expire_chains_with_appends_in_the_gap(spark, tmp_path):
    """Laggard crossing expire + post-expire appends: net-effect rows
    — deletes for the dropped months, inserts for the new appends."""
    lake = _mklake(spark, tmp_path)
    _, cur = lake.changes(SensorType.FLOAT, cdc=True)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("d", KEEP, 9.0)])
    )
    delta, cur2 = lake.changes(SensorType.FLOAT, cur, cdc=True)
    assert cur2["reset"] is False
    rows = {
        (r.sensor_id, r.value, r._change_type) for r in delta.collect()
    }
    assert rows == {
        ("a", 1.0, "delete"),
        ("b", 2.0, "delete"),
        ("d", 9.0, "insert"),
    }


def test_expire_cdc_unprovable_after_superseded_dir_gone(spark, tmp_path):
    """The lazy delete depends on the superseded dir: once reclaimed,
    the link is unprovable and the feed resets honestly instead of
    inventing rows."""
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    _, cur = lake.changes(SensorType.FLOAT, cdc=True)
    old = resolve_table(path)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    shutil.rmtree(old)  # simulate vacuum reclaiming it
    snap, cur2 = lake.changes(SensorType.FLOAT, cur, cdc=True)
    assert cur2["reset"] is True
    assert snap.count() == 2


def test_expire_time_travel_still_reads_old_months(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    pre_seq = read_committed(path)[0]
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    snap = lake.values(SensorType.FLOAT, at_seq=pre_seq)
    assert snap.count() == 4  # superseded version keeps the months


def test_expire_tombstone_blocks_late_fold_resurrection(spark, tmp_path):
    """A concurrent append that resolved the SUPERSEDED version and
    landed after the expire gets folded later — its expired-month rows
    must be filtered by the tombstone, its surviving rows kept."""
    lake = _mklake(spark, tmp_path)
    path = lake._values_path(SensorType.FLOAT)
    old = resolve_table(path)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    # Simulate the laggard: write a two-month batch as parquet and drop
    # its part files into the superseded dir, exactly where a laggard
    # appender (which resolved `old` before the flip) would land them.
    stage = str(tmp_path / "stage")
    from pyspark.sql import functions as F

    _vals(
        spark, [("z", OLD1, 7.0), ("z", KEEP, 8.0)]
    ).withColumn(
        "month", F.date_format("time", "yyyy-MM")
    ).write.partitionBy("month").parquet(stage)
    for root, _dirs, files in os.walk(stage):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), stage)
                dst = os.path.join(old, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(os.path.join(root, f), dst)
    lake._fold_manifest_extras(path)
    left = {
        (r.sensor_id, r.value)
        for r in lake.values(SensorType.FLOAT).collect()
    }
    # The 2024-02 row folded in; the 2023-11 row stayed expired.
    assert left == {("a", 3.0), ("c", 4.0), ("z", 8.0)}


def test_expire_retries_through_commit_conflict(spark, tmp_path):
    """A cross-host writer commits between the pin and the claim: the
    conditional commit loses, expire re-pins and lands on the next
    sequence — the standard CAS discipline. Second case: the writer
    commits TWICE, so the pinned base loses its one-generation grace
    and is pruned before expire hard-links from it; the vanished base
    (a Python FileNotFoundError) is the same staleness and retries."""
    for commits in (1, 2):
        case = tmp_path / f"commits_{commits}"
        case.mkdir()
        lake = _mklake(spark, case)
        path = lake._values_path(SensorType.FLOAT)
        fired = {"n": 0}

        def intruder():
            if fired["n"] == 0:
                fired["n"] += 1
                df = lake.values(SensorType.FLOAT)
                for _ in range(commits):
                    atomic_overwrite(
                        df, path, partition_by="month",
                        keep_generations=lake.retain_generations,
                    )

        out = lake._expire_table(
            path, "2024-01", max_retries=5, _test_after_pin=intruder
        )
        assert fired["n"] == 1
        assert out["months"] == ["2023-11", "2023-12"]
        assert out["seq"] == 1 + commits + 1
        left = {
            (r.sensor_id, r.value)
            for r in lake.values(SensorType.FLOAT).collect()
        }
        assert left == {("a", 3.0), ("c", 4.0)}


def test_expire_all_tables_reports_only_droppers(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("a", OLD1, 1.0), ("c", KEEP, 2.0)])
    )
    lake.append_values(
        SensorType.INTEGER,
        spark.createDataFrame(
            [("i", KEEP, 5)],
            "sensor_id string, time timestamp, value long",
        ),
    )
    out = lake.expire_before(CUTOFF)
    assert set(out) == {"FLOAT"}  # INTEGER had nothing older
    assert lake.values(SensorType.INTEGER).count() == 1


def test_appends_and_feed_work_after_expire(spark, tmp_path):
    lake = _mklake(spark, tmp_path)
    lake.expire_before(CUTOFF, SensorType.FLOAT)
    _, cur = lake.changes(SensorType.FLOAT, cdc=True)
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("e", KEEP, 6.0)])
    )
    delta, cur2 = lake.changes(SensorType.FLOAT, cur, cdc=True)
    assert {
        (r.sensor_id, r._change_type) for r in delta.collect()
    } == {("e", "insert")}
    assert cur2["reset"] is False
    assert lake.values(SensorType.FLOAT).count() == 3


def test_optimize_auto_decides_from_sidecar_stats(spark, tmp_path):
    """Stats-driven compaction: files_per_month comes from the
    sidecar's exact per-month row counts (zero data reads for the
    decision); with the sidecar gone the fallback counts honestly and
    says so."""
    lake = _mklake(spark, tmp_path)
    lake.refresh_zonemap(SensorType.FLOAT)
    rep = lake.expire_before(dt.datetime(2023, 1, 1), SensorType.FLOAT)
    assert rep == {}  # fixture untouched

    out = lake.optimize_auto(
        SensorType.FLOAT, target_rows_per_file=1, quiesce_wait_s=0.2
    )
    assert out["source"] == "sidecar-stats"
    assert out["rows"] == 4
    assert out["months"] == 4
    assert out["files_per_month"] == 1  # 4 rows / 4 months / target 1
    assert lake.values(SensorType.FLOAT).count() == 4  # rewrite kept all

    # No sidecar → counted fallback, same decision.
    import os as _os

    from sensapp_spark.storage.lake import resolve_table as _rt

    data = _rt(lake._values_path(SensorType.FLOAT))
    _os.unlink(_os.path.join(data, "_zonemap.json"))
    out2 = lake.optimize_auto(
        SensorType.FLOAT, target_rows_per_file=1, quiesce_wait_s=0.2
    )
    assert out2["source"] == "counted"
    assert out2["files_per_month"] == 1
    # Cap respected when the target implies an absurd fan-out.
    out3 = lake.optimize_auto(
        SensorType.FLOAT, target_rows_per_file=1,
        max_files_per_month=1, quiesce_wait_s=0.2,
    )
    assert out3["files_per_month"] == 1


def test_clone_to_is_zero_copy_and_independent(spark, tmp_path):
    """Shallow clone: the branch starts as the source's committed
    state with hardlinked files (zero bytes copied), then the two
    lakes diverge freely — appends and deletes on one never show on
    the other, because committed files are immutable in both."""
    lake = _mklake(spark, tmp_path)
    lake.upsert_sensors(spark.createDataFrame(
        [("a", "name-a", "Float", None, None, {})],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    ))
    lake.refresh_zonemap(SensorType.FLOAT)
    clone = lake.clone_to(str(tmp_path / "branch"))

    src_rows = {
        (r.sensor_id, r.value)
        for r in lake.values(SensorType.FLOAT).collect()
    }
    assert {
        (r.sensor_id, r.value)
        for r in clone.values(SensorType.FLOAT).collect()
    } == src_rows
    assert clone.sensors().count() == lake.sensors().count()

    # Zero-copy: every cloned parquet shares its source inode.
    src_data = resolve_table(lake._values_path(SensorType.FLOAT))
    dst_data = resolve_table(clone._values_path(SensorType.FLOAT))
    src_inodes = {}
    for root, _d, files in os.walk(src_data):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                src_inodes[os.path.relpath(p, src_data)] = os.stat(p).st_ino
    n = 0
    for root, _d, files in os.walk(dst_data):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                assert os.stat(p).st_ino == src_inodes[
                    os.path.relpath(p, dst_data)
                ]
                n += 1
    assert n >= 3
    # Sidecar carried filtered-verbatim → pruning works on the branch.
    assert zm.read_zonemap(dst_data) is not None

    # Divergence: branch-side delete, source-side append.
    clone.delete_where(
        SensorType.FLOAT, "sensor_id = 'c'", quiesce_wait_s=0.2
    )
    lake.append_values(
        SensorType.FLOAT, _vals(spark, [("z", KEEP, 9.0)])
    )
    assert {
        (r.sensor_id, r.value)
        for r in lake.values(SensorType.FLOAT).collect()
    } == src_rows | {("z", 9.0)}
    assert {
        (r.sensor_id, r.value)
        for r in clone.values(SensorType.FLOAT).collect()
    } == src_rows - {("c", 4.0)}

    # A clone's feed starts fresh; a non-empty target is refused.
    snap, cur = clone.changes(SensorType.FLOAT)
    assert cur["reset"] is False and snap.count() == 3
    with pytest.raises(ValueError):
        lake.clone_to(str(tmp_path / "branch"))


def test_two_expires_chain_for_one_laggard(spark, tmp_path):
    """A consumer crossing TWO retention commits gets both months'
    deletes through the chained per-version deltas — each link's lazy
    rows read from its own superseded dir — with no reset."""
    lake = _mklake(spark, tmp_path)
    _, cur = lake.changes(SensorType.FLOAT, cdc=True)
    out1 = lake.expire_before(dt.datetime(2023, 12, 1), SensorType.FLOAT)
    assert out1["FLOAT"]["months"] == ["2023-11"]
    out2 = lake.expire_before(dt.datetime(2024, 1, 1), SensorType.FLOAT)
    assert out2["FLOAT"]["months"] == ["2023-12"]
    delta, cur2 = lake.changes(SensorType.FLOAT, cur, cdc=True)
    assert cur2["reset"] is False
    rows = {
        (r.sensor_id, r.value, r._change_type) for r in delta.collect()
    }
    assert rows == {("a", 1.0, "delete"), ("b", 2.0, "delete")}


def test_failed_clone_reclaims_partial_target(spark, tmp_path):
    """A clone that dies mid-way leaves NO half-branch behind: every
    table dir under the target is reclaimed, so a re-run is not wedged
    by the not-empty guard."""
    lake = _mklake(spark, tmp_path)
    lake.append_values(
        SensorType.INTEGER,
        spark.createDataFrame(
            [("i", KEEP, 5)],
            "sensor_id string, time timestamp, value long",
        ),
    )
    dest = str(tmp_path / "branch")
    import sensapp_spark.storage.lake as lk

    real_init = lk._filelog_init
    calls = {"n": 0}

    def boom(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # die on the SECOND table
            raise OSError("disk gone")
        return real_init(*a, **kw)

    lk._filelog_init = boom
    try:
        with pytest.raises(OSError):
            lake.clone_to(dest)
    finally:
        lk._filelog_init = real_init
    assert calls["n"] == 2
    # Re-run succeeds: nothing half-committed survived.
    clone = lake.clone_to(dest)
    assert clone.values(SensorType.FLOAT).count() == 4
    assert clone.values(SensorType.INTEGER).count() == 1

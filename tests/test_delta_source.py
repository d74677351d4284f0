"""Delta Lake source: open-protocol log reader, snapshots, time travel,
and index lifecycle over a Delta table.

Reference: index/sources/delta/DeltaLakeRelation.scala:40-215 (version
signature, snapshot file enumeration, time-travel candidate selection).
No delta-spark in this environment — tables are written and read via the
public `_delta_log` JSON/checkpoint protocol (sources/delta.py).
"""

import os

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import CoveringIndexConfig, Hyperspace
from hyperspace_spark.sources.delta import (
    DeltaLog,
    read_delta,
    remove_files,
    table_version,
    write_delta,
    write_checkpoint,
)

from tests.conftest import rows_equal, table


@pytest.fixture()
def dtab(spark, tmp_path):
    """orders split into two commits: v0 = ~2/3 of rows, v1 appends the rest."""
    root = str(tmp_path / "orders_delta")
    o = table(spark, "orders")
    v0 = write_delta(o.filter("o_orderkey % 3 != 0"), root, mode="append")
    v1 = write_delta(o.filter("o_orderkey % 3 = 0"), root, mode="append")
    assert (v0, v1) == (0, 1)
    return root


def test_snapshot_and_read_roundtrip(spark, dtab):
    o = table(spark, "orders")
    got = read_delta(spark, dtab)
    assert got.count() == o.count()
    assert sorted(map(tuple, got.select("o_orderkey", "o_custkey").collect())) == sorted(
        map(tuple, o.select("o_orderkey", "o_custkey").collect())
    )
    assert table_version(dtab) == 1


def test_time_travel_reads_pinned_version(spark, dtab):
    o = table(spark, "orders")
    v0 = read_delta(spark, dtab, version=0)
    assert v0.count() == o.filter("o_orderkey % 3 != 0").count()


def test_remove_files_hides_rows(spark, dtab):
    snap = DeltaLog(dtab).snapshot(0)
    victim = sorted(snap.adds)[0]
    remove_files(dtab, [victim])
    latest = DeltaLog(dtab).snapshot()
    assert victim not in latest.adds
    # Time travel still sees the removed file.
    assert victim in DeltaLog(dtab).snapshot(1).adds
    assert read_delta(spark, dtab).count() < read_delta(spark, dtab, version=1).count()


def test_checkpoint_replay_equivalent(spark, dtab):
    before = sorted(DeltaLog(dtab).snapshot().adds)
    cp_version = write_checkpoint(dtab)
    assert cp_version == 1
    # Reader starting from the checkpoint sees the same snapshot.
    after = sorted(DeltaLog(dtab).snapshot().adds)
    assert before == after
    # And later commits still replay on top of the checkpoint.
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey = 1").limit(1), dtab, mode="append")
    assert table_version(dtab) == 2


def test_partitioned_table_roundtrip(spark, tmp_path):
    root = str(tmp_path / "part_delta")
    o = table(spark, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    write_delta(o, root, mode="append", partition_by=["o_orderpriority"])
    got = read_delta(spark, root)
    assert DeltaLog(root).snapshot().partition_columns == ["o_orderpriority"]
    assert got.schema["o_orderpriority"].dataType.simpleString() == "string"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, o.collect()))


def test_index_on_delta_exact_version(spark, dtab, tmp_path):
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, dtab),
        CoveringIndexConfig("d_cov", ["o_custkey"], ["o_orderkey", "o_totalprice"]),
    )
    q = read_delta(spark, dtab).filter(F.col("o_custkey") == 14).select(
        "o_orderkey", "o_totalprice"
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["d_cov"], hs.why_not(q)
    assert rows_equal(q, fast)
    # Version-pinned signature: the entry fingerprint is path+version, not
    # a per-file listing hash.
    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "d_cov")
    import hashlib

    assert entry.signature == hashlib.md5(f"delta:{dtab}@1".encode()).hexdigest()


def test_index_survives_delta_append_hybrid(spark, dtab, tmp_path):
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, dtab),
        CoveringIndexConfig("d_app", ["o_custkey"], ["o_orderkey"]),
    )
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 97 = 0"), dtab, mode="append")  # v2
    q = read_delta(spark, dtab).filter("o_custkey < 100").select("o_orderkey", "o_custkey")
    fast, used = hs._apply_with_info(q)
    assert used == ["d_app"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_index_serves_time_travel_query(spark, tmp_path):
    """Index built at v1; a v0 query gets the pinned older snapshot via
    hybrid-delete compensation (lineage anti-filter) — the PySpark-native
    answer to the reference's closestIndex (DeltaLakeRelation.scala:179-215).
    The version diff must stay inside the hybrid byte-ratio thresholds
    (a ~5% append here; a 1/3 diff is correctly rejected as TOO_MUCH_DELETED)."""
    root = str(tmp_path / "tt_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 19 != 0"), root)          # v0: ~95%
    write_delta(o.filter("o_orderkey % 19 = 0"), root)           # v1: +5%
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, root),
        CoveringIndexConfig("d_tt", ["o_custkey"], ["o_orderkey"]),
    )
    q = read_delta(spark, root, version=0).filter("o_custkey < 200").select(
        "o_orderkey", "o_custkey"
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["d_tt"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_refresh_full_on_delta_uses_snapshot(spark, dtab, tmp_path):
    """Full refresh re-reads the CURRENT snapshot (not a directory listing
    that would resurrect dead files)."""
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, dtab),
        CoveringIndexConfig("d_rf", ["o_custkey"], ["o_orderkey"]),
    )
    snap = DeltaLog(dtab).snapshot(0)
    victim = sorted(snap.adds)[0]
    remove_files(dtab, [victim])  # v2: dead file still on disk
    assert os.path.exists(os.path.join(dtab, victim))
    hs.refresh_index("d_rf", "full")
    q = read_delta(spark, dtab).filter("o_custkey < 500").select("o_orderkey", "o_custkey")
    fast, used = hs._apply_with_info(q)
    assert used == ["d_rf"], hs.why_not(q)
    assert rows_equal(q, fast)
    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "d_rf")
    import hashlib

    assert entry.signature == hashlib.md5(f"delta:{dtab}@2".encode()).hexdigest()


def test_refresh_incremental_skipping_on_delta_uses_snapshot_signature(spark, tmp_path):
    """Incremental refresh of a data-skipping index records the PROVIDER's
    signature (path+version), like create and full refresh: a per-file
    md5 never matches the Delta scan's, so with hybrid scan off the
    refreshed index would stop applying."""
    import hashlib

    from hyperspace_spark import DataSkippingIndexConfig, MinMaxSketch

    root = str(tmp_path / "ds_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey < 3000"), root)  # v0
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, root),
        DataSkippingIndexConfig("d_ds", [MinMaxSketch(["o_orderkey"])]),
    )
    write_delta(o.filter("o_orderkey >= 3000"), root)  # v1
    hs.refresh_index("d_ds", "incremental")
    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "d_ds")
    assert entry.signature == hashlib.md5(f"delta:{root}@1".encode()).hexdigest()

    spark.conf.set("spark.hyperspace.index.hybridscan.enabled", "false")
    try:
        q = read_delta(spark, root).filter("o_orderkey < 100").select("o_orderkey", "o_custkey")
        fast, used = hs._apply_with_info(q)
        assert used == ["d_ds"], hs.why_not(q)
        assert rows_equal(q, fast)
    finally:
        spark.conf.set("spark.hyperspace.index.hybridscan.enabled", "true")


def test_overwrite_mode_replaces_content(spark, tmp_path):
    root = str(tmp_path / "ow_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 2 = 0"), root)
    write_delta(o.filter("o_orderkey % 2 = 1"), root, mode="overwrite")
    got = read_delta(spark, root)
    assert got.filter("o_orderkey % 2 = 0").count() == 0
    assert got.count() == o.filter("o_orderkey % 2 = 1").count()


def test_raw_root_read_keeps_dead_files_and_correctness(spark, dtab, tmp_path):
    """A raw spark.read.parquet(<table root>) is NOT a snapshot read: it
    sees files the log removed but vacuum left on disk.  The planner must
    not rewrite it to snapshot semantics (r2 review finding) — results
    with and without the index stay identical."""
    snap = DeltaLog(dtab).snapshot(0)
    victim = sorted(snap.adds)[0]
    remove_files(dtab, [victim])  # dead file remains on disk
    raw = spark.read.parquet(dtab)
    live = read_delta(spark, dtab)
    assert raw.count() > live.count(), "dead file must still be visible to raw reads"
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        live, CoveringIndexConfig("d_raw", ["o_custkey"], ["o_orderkey"])
    )
    q = spark.read.parquet(dtab).filter("o_custkey < 300").select("o_orderkey", "o_custkey")
    fast, used = hs._apply_with_info(q)
    # Whether or not the index applies (hybrid compensation may serve the
    # dead files as appends), results MUST equal the raw scan.
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, fast.collect()))


def test_snapshot_below_unapplied_checkpoint_with_expired_commits_raises(spark, dtab):
    """Commits expired after a checkpoint: versions at/after the
    checkpoint reconstruct; versions BELOW it must raise, not silently
    return a partial snapshot (r2 review finding)."""
    write_checkpoint(dtab)  # checkpoint at v1
    os.remove(os.path.join(dtab, "_delta_log", f"{0:020d}.json"))
    assert DeltaLog(dtab).snapshot(1).adds  # from the checkpoint: fine
    with pytest.raises(FileNotFoundError):
        DeltaLog(dtab).snapshot(0)


def test_partitioned_encoded_paths_and_checkpoint_roundtrip(spark, tmp_path):
    """Protocol parity: add.path is URL-encoded (a partition value with a
    space encodes as %20), and checkpoints must retain partitionValues —
    protocol-compliant readers take partition columns from the
    checkpoint, not from directory names."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "enc_tab")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "plain")], "id long, cat string"
    )
    write_delta(df, d, partition_by=["cat"])
    # read side: files resolve on disk (decoded paths), rows intact
    back = read_delta(spark, d)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3]
    snap = DeltaLog(d).snapshot()
    assert any("a b" in p for p in snap.adds), snap.adds  # decoded keys
    assert any(pv.get("cat") == "a b" for pv in snap.part_values.values())
    # log JSON holds the ENCODED form
    import glob as _glob
    import json as _json

    log_files = sorted(_glob.glob(f"{d}/_delta_log/*.json"))
    encoded = [
        a["add"]["path"]
        for lf in log_files
        for line in open(lf)
        if line.strip()
        for a in [_json.loads(line)]
        if a.get("add")
    ]
    assert any("a%20b" in p for p in encoded), encoded
    # checkpoint: partitionValues survive and paths stay encoded
    write_checkpoint(d)
    cp = sorted(_glob.glob(f"{d}/_delta_log/*.checkpoint.parquet"))[-1]
    tbl = pq.read_table(cp).to_pylist()
    adds = [r["add"] for r in tbl if r.get("add")]
    assert any(
        a["partitionValues"] and dict(a["partitionValues"]).get("cat") == "a b"
        for a in adds
    ), adds
    assert any("a%20b" in a["path"] for a in adds)
    # replay FROM the checkpoint reconstructs the same snapshot
    snap2 = DeltaLog(d).snapshot()
    assert snap2.adds == snap.adds and snap2.part_values == snap.part_values


def test_closest_index_version_for_time_travel(spark, tmp_path):
    """Version-history selection (reference DeltaLakeRelation.scala:179-215
    closestIndex): when the LATEST index version diverges from a pinned
    time-travel snapshot beyond the hybrid thresholds, a RETAINED older
    index version that matches the snapshot exactly still accelerates."""
    root = str(tmp_path / "ci_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 3 = 0"), root)   # v0: ~1/3
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, root),
        CoveringIndexConfig("d_ci", ["o_custkey"], ["o_orderkey"]),
    )
    # v1 doubles the table (~2/3 new bytes) and the index refreshes to it:
    # the LATEST entry is now far beyond the 0.2 deleted-ratio threshold
    # for a v0-pinned query.
    write_delta(o.filter("o_orderkey % 3 != 0"), root)  # v1
    hs.refresh_index("d_ci", "full")

    q0 = read_delta(spark, root, version=0).filter("o_custkey < 300").select(
        "o_orderkey", "o_custkey"
    )
    fast, used = hs._apply_with_info(q0)
    assert used == ["d_ci"], hs.why_not(q0)
    assert rows_equal(q0, fast)
    # it used the RETAINED v0-built entry: exact match, no source-file
    # union in the plan
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "ci_delta" not in plan  # no fallback union over the delta table files

    # the latest snapshot keeps using the latest entry
    q1 = read_delta(spark, root).filter("o_custkey < 300").select("o_orderkey", "o_custkey")
    fast1, used1 = hs._apply_with_info(q1)
    assert used1 == ["d_ci"], hs.why_not(q1)
    assert rows_equal(q1, fast1)

    # after vacuuming outdated versions the old entry's data is gone:
    # the v0 query must fall back gracefully (no index, correct rows)
    hs.vacuum_outdated_indexes("d_ci")
    fast2, used2 = hs._apply_with_info(q0)
    assert used2 == []
    assert rows_equal(q0, fast2)


def test_closest_version_exact_match_with_hybrid_scan_off(spark, tmp_path):
    """hybridscan.enabled=false disables COMPENSATION, not exact matches:
    a time-travel query whose snapshot exactly matches a RETAINED old
    index version still accelerates (no hybrid machinery needed), while
    the in-threshold-but-inexact path stays off."""
    root = str(tmp_path / "ho_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 3 = 0"), root)   # v0
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, root),
        CoveringIndexConfig("ho_ci", ["o_custkey"], ["o_orderkey"]),
    )
    write_delta(o.filter("o_orderkey % 3 != 0"), root)  # v1, index refreshes
    hs.refresh_index("ho_ci", "full")

    spark.conf.set("spark.hyperspace.index.hybridscan.enabled", "false")
    try:
        q0 = read_delta(spark, root, version=0).filter("o_custkey < 300").select(
            "o_orderkey", "o_custkey"
        )
        fast, used = hs._apply_with_info(q0)
        assert used == ["ho_ci"], hs.why_not(q0)
        assert rows_equal(q0, fast)

        # a slightly-diverged snapshot (v1 vs a v0-built latest... here:
        # latest-snapshot query against the refreshed index) still works
        q1 = read_delta(spark, root).filter("o_custkey < 300").select(
            "o_orderkey", "o_custkey"
        )
        fast1, used1 = hs._apply_with_info(q1)
        assert used1 == ["ho_ci"]
        assert rows_equal(q1, fast1)
    finally:
        spark.conf.set("spark.hyperspace.index.hybridscan.enabled", "true")


def test_closest_version_beats_in_threshold_hybrid_for_pinned_query(spark, tmp_path):
    """Deletes-only divergence shows hybrid coverage 1.0 (live is a
    subset of indexed), so an in-threshold hybrid candidate on the
    LATEST version would win by default — but a v0-pinned query has an
    EXACT retained v0-built version needing zero compensation, and the
    planner must prefer it (no lineage anti-join, no source union)."""
    root = str(tmp_path / "sub_delta")
    o = table(spark, "orders")
    write_delta(o.filter("o_orderkey % 10 != 0"), root)   # v0: ~90%
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        read_delta(spark, root),
        CoveringIndexConfig("sub_ci", ["o_custkey"], ["o_orderkey"]),
    )
    # v1 appends the remaining ~10% (< 0.2 deleted-ratio from v1's view),
    # index refreshes to it: the v0 query now sees an in-threshold
    # hybrid candidate on the latest entry AND an exact v0 match.
    write_delta(o.filter("o_orderkey % 10 = 0"), root)    # v1
    hs.refresh_index("sub_ci", "full")

    q0 = read_delta(spark, root, version=0).filter("o_custkey < 300").select(
        "o_orderkey", "o_custkey"
    )
    fast, used = hs._apply_with_info(q0)
    assert used == ["sub_ci"], hs.why_not(q0)
    assert rows_equal(q0, fast)
    # plan toString truncates long paths; inputFiles is exact
    files = fast.inputFiles()
    assert files and all("v__=0" in f for f in files), (
        "must read ONLY the retained v0-built index version",
        files,
    )

"""Lifecycle actions + hybrid scan over mutable data.

Mirrors the reference's action tests + HybridScan suites: append files
(< 0.3 bytes ratio) and delete files (< 0.2) around an index built on a
COPY of the source, then check query equality against live data.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import CoveringIndexConfig, Hyperspace
from hyperspace_spark.hyperspace import HyperspaceException

from tests.conftest import rows_equal, table


@pytest.fixture()
def mutable_src(spark, tmp_path):
    """orders written as 8 files we can append to / delete from."""
    d = str(tmp_path / "orders_mut")
    table(spark, "orders").repartition(8).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture()
def hs(spark, tmp_path):
    return Hyperspace(spark, system_path=str(tmp_path / "idx"))


def q_of(spark, d):
    return (
        spark.read.parquet(d)
        .filter("o_custkey < 500")
        .select("o_orderkey", "o_totalprice")
    )


def _append_files(spark, d, n=1):
    extra = spark.read.parquet(d).limit(200).withColumn("o_totalprice", F.lit(1.0))
    extra.coalesce(n).write.mode("append").parquet(d)


def _delete_one_file(d):
    f = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))[0]
    os.unlink(os.path.join(d, f))


def make_index(hs, spark, d, name="mut_idx"):
    hs.create_index(
        spark.read.parquet(d),
        CoveringIndexConfig(name, ["o_custkey"], ["o_orderkey", "o_totalprice"]),
    )


def test_hybrid_scan_appended(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    _append_files(spark, mutable_src)
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_hybrid_scan_deleted(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    _delete_one_file(mutable_src)
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_hybrid_scan_append_and_delete(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    _append_files(spark, mutable_src)
    _delete_one_file(mutable_src)
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_too_much_appended_rejected(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    # Append ~the same volume again -> ratio >> 0.3 -> reject.
    spark.read.parquet(mutable_src).write.mode("append").parquet(mutable_src + "_big")
    shutil.copytree(mutable_src, mutable_src + "_orig", dirs_exist_ok=True)
    big = spark.read.parquet(mutable_src)
    big.write.mode("append").parquet(mutable_src)
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == []
    assert "TOO_MUCH_APPENDED" in hs.why_not(q)
    assert rows_equal(q, fast)


def test_refresh_incremental(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    _append_files(spark, mutable_src)
    _delete_one_file(mutable_src)
    hs.refresh_index("mut_idx", "incremental")
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"], hs.why_not(q)
    # After refresh the signature matches exactly -> no hybrid compensation.
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "orders_mut" not in plan
    assert rows_equal(q, fast)


def test_refresh_quick_then_hybrid(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    _append_files(spark, mutable_src)
    hs.refresh_index("mut_idx", "quick")
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"]
    assert rows_equal(q, fast)


def test_optimize_quick_compacts(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    before = hs.index("mut_idx").collect()[0]
    hs.optimize_index("mut_idx", "full")
    after = hs.index("mut_idx").collect()[0]
    assert after.version > before.version
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"]
    assert rows_equal(q, fast)


def test_cancel_rolls_back_transient(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    conf = hs.conf()
    mgr = hs._log_mgr("mut_idx", conf)
    stuck = mgr.get_latest_log().with_state("REFRESHING", mgr.get_latest_id() + 1)
    assert mgr.write_log(stuck.id, stuck)
    hs._invalidate_cache()
    with pytest.raises(HyperspaceException):
        hs.delete_index("mut_idx")  # not ACTIVE while stuck
    hs.cancel("mut_idx")
    assert hs._log_mgr("mut_idx", conf).get_latest_log().state == "ACTIVE"
    hs.delete_index("mut_idx")


def test_vacuum_outdated_keeps_latest(spark, hs, mutable_src):
    make_index(hs, spark, mutable_src)
    hs.optimize_index("mut_idx", "full")  # creates v2
    hs.vacuum_outdated_indexes("mut_idx")
    idx_dir = os.path.join(hs.conf().system_path, "mut_idx")
    vdirs = [d for d in os.listdir(idx_dir) if d.startswith("v__=")]
    assert len(vdirs) == 1
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["mut_idx"]
    assert rows_equal(q, fast)


def test_zorder_incremental_falls_back_to_full(spark, hs, tmp_path):
    from hyperspace_spark import ZOrderCoveringIndexConfig

    d = str(tmp_path / "part_mut")
    table(spark, "part").repartition(4).write.mode("overwrite").parquet(d)
    hs.create_index(
        spark.read.parquet(d),
        ZOrderCoveringIndexConfig("z_mut", ["p_size", "p_retailprice"], ["p_partkey"]),
    )
    spark.read.parquet(d).limit(50).write.mode("append").parquet(d)
    hs.refresh_index("z_mut", "incremental")  # silently rebuilds fully
    q = spark.read.parquet(d).filter("p_size BETWEEN 5 AND 15").select("p_partkey")
    fast, used = hs._apply_with_info(q)
    assert used == ["z_mut"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_optimize_skipping_index(spark, hs, mutable_src, tmp_path):
    from hyperspace_spark import DataSkippingIndexConfig, MinMaxSketch

    hs.create_index(
        spark.read.parquet(mutable_src),
        DataSkippingIndexConfig("sk_opt", [MinMaxSketch(["o_custkey"])]),
    )
    hs.optimize_index("sk_opt", "full")
    q = (
        spark.read.parquet(mutable_src)
        .filter("o_custkey < 10")
        .select("o_orderkey")
    )
    fast, used = hs._apply_with_info(q)
    assert rows_equal(q, fast)


def test_create_failure_leaves_name_reusable(spark, tmp_path):
    """A build-phase failure must roll the name back to DOESNOTEXIST —
    previously the stranded CREATING log bricked the name (retry said
    'already exists', cancel had no stable version, delete required
    ACTIVE)."""
    from hyperspace_spark import CoveringIndexConfig, Hyperspace
    from hyperspace_spark.hyperspace import HyperspaceException

    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(src)
    df = spark.read.parquet(src)
    with pytest.raises(Exception):
        # nonexistent included column -> builder raises mid-create
        hs.create_index(df, CoveringIndexConfig("fail_idx", ["k"], ["no_such_col"]))
    # the name is immediately reusable
    hs.create_index(df, CoveringIndexConfig("fail_idx", ["k"], ["v"]))
    q = df.filter("k = 7").select("k", "v")
    fast, used = hs._apply_with_info(q)
    assert used == ["fail_idx"], hs.why_not(q)


def test_optimize_rejects_bad_mode(spark, tmp_path):
    from hyperspace_spark import CoveringIndexConfig, Hyperspace
    from hyperspace_spark.hyperspace import HyperspaceException

    hs = Hyperspace(spark, system_path=str(tmp_path / "idx2"))
    src = str(tmp_path / "src2")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(src)
    df = spark.read.parquet(src)
    hs.create_index(df, CoveringIndexConfig("m_idx", ["k"], ["v"]))
    with pytest.raises(HyperspaceException):
        hs.optimize_index("m_idx", mode="Quick")  # typo must not full-rewrite
    # index still ACTIVE and usable
    q = df.filter("k = 3").select("k", "v")
    _, used = hs._apply_with_info(q)
    assert used == ["m_idx"]


def _refresh_header_csv(spark, tmp_path, config):
    """A header=true CSV source indexed by ``config``; one more header'd
    CSV file is appended and the index refreshed incrementally.  Returns
    (hs, the re-read source frame)."""
    src = str(tmp_path / "csv_src")

    def write(lo, hi, mode):
        spark.range(lo, hi).selectExpr(
            "id AS k", "id * 10 AS v", "concat('s', id % 3) AS s"
        ).coalesce(1).write.option("header", "true").mode(mode).csv(src)

    def read():
        return spark.read.option("header", "true").option("inferSchema", "true").csv(src)

    write(0, 50, "errorifexists")
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx3"))
    hs.create_index(read(), config)
    write(50, 80, "append")
    hs.refresh_index(config.name, "incremental")
    return hs, read()


def test_refresh_incremental_preserves_reader_options(spark, tmp_path):
    """Appended files must be read with the SAME reader options as the
    build scan: a header=true CSV appended without options would parse
    header rows as data and union corrupt rows into the index."""
    hs, df2 = _refresh_header_csv(
        spark, tmp_path, CoveringIndexConfig("csv_idx", ["k"], ["v"])
    )
    q = df2.filter(F.col("k") == 60).select("k", "v")
    fast, used = hs._apply_with_info(q)
    assert used == ["csv_idx"], hs.why_not(q)
    assert [(r.k, r.v) for r in fast.collect()] == [(60, 600)]
    # no header-row garbage made it into the index
    allrows = hs.apply(df2.select("k", "v")).collect()
    assert len(allrows) == 80 and all(isinstance(r.k, int) for r in allrows)


def test_refresh_incremental_skipping_preserves_reader_options(spark, tmp_path):
    """The same header'd-CSV append on a data-skipping index: sketching
    the header row as data would add a row to the appended file's row
    count and the value 's' to its value list, so metadata-only
    count(*) and count(DISTINCT s) would disagree with the source."""
    from hyperspace_spark import (
        DataSkippingIndexConfig,
        MinMaxSketch,
        RowCountSketch,
        ValueListSketch,
    )

    config = DataSkippingIndexConfig(
        "csv_ds", [ValueListSketch(["s"]), RowCountSketch(), MinMaxSketch(["k"])]
    )
    hs, df2 = _refresh_header_csv(spark, tmp_path, config)
    for q in (
        df2.agg(F.count("*").alias("c")),
        df2.agg(F.countDistinct("s").alias("d")),
    ):
        fast, used = hs._apply_with_info(q)
        assert used == ["csv_ds"], hs.why_not(q)
        assert fast.collect() == q.collect()


def test_incremental_refresh_appends_only_new_bucket_files(spark, hs, mutable_src, tmp_path):
    """Append-only incremental refresh must NOT rewrite the existing index:
    every pre-refresh data file is carried into the new version dir as a
    hardlink (same inode — zero bytes moved), and only the appended rows
    land as additional per-bucket files."""
    hs.create_index(
        spark.read.parquet(mutable_src),
        CoveringIndexConfig("inc_idx", ["o_custkey"], ["o_orderkey", "o_totalprice"], num_buckets=4),
    )
    e0 = hs._log_mgr("inc_idx", hs.conf()).get_latest_stable_log()
    before_paths = {f.path.rsplit("/", 1)[-1]: os.stat(f.path).st_ino for f in e0.content_files}

    _append_files(spark, mutable_src)
    hs.refresh_index("inc_idx", "incremental")

    e1 = hs._log_mgr("inc_idx", hs.conf()).get_latest_stable_log()
    after = {f.path.rsplit("/", 1)[-1]: f for f in e1.content_files}
    # every old file is present by NAME in the new version, same inode
    for name, ino in before_paths.items():
        assert name in after, f"{name} dropped by append-only refresh"
        assert os.stat(after[name].path).st_ino == ino, "old file was rewritten, not linked"
    # and new delta files exist on top
    assert len(e1.content_files) > len(e0.content_files)

    # acceleration + correctness against live source
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["inc_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_optimize_quick_per_bucket(spark, hs, mutable_src):
    """Quick optimize compacts ONLY buckets with >1 sub-threshold file;
    files at/above the threshold are hardlinked through untouched."""
    from collections import Counter

    from hyperspace_spark.indexes.covering import _BUCKET_FILE_RE

    hs.create_index(
        spark.read.parquet(mutable_src),
        CoveringIndexConfig("pb_idx", ["o_custkey"], ["o_orderkey", "o_totalprice"], num_buckets=4),
    )
    # two append-only incremental refreshes -> each bucket accumulates
    # small delta files next to its original (larger) file
    for _ in range(2):
        _append_files(spark, mutable_src)
        hs.refresh_index("pb_idx", "incremental")
    e1 = hs._log_mgr("pb_idx", hs.conf()).get_latest_stable_log()
    sizes = sorted(f.size for f in e1.content_files)
    assert len(e1.content_files) >= 8  # 4 originals + >=4 deltas
    # threshold between the delta files and the originals: the original
    # per-bucket files are the 4 largest
    threshold = sorted((f.size for f in e1.content_files), reverse=True)[3]
    big = {f.path.rsplit("/", 1)[-1]: os.stat(f.path).st_ino
           for f in e1.content_files if f.size >= threshold}
    assert len(big) == 4

    spark.conf.set("spark.hyperspace.index.optimize.fileSizeThreshold", str(threshold))
    try:
        hs.optimize_index("pb_idx", "quick")
    finally:
        spark.conf.unset("spark.hyperspace.index.optimize.fileSizeThreshold")

    e2 = hs._log_mgr("pb_idx", hs.conf()).get_latest_stable_log()
    after = {f.path.rsplit("/", 1)[-1]: f for f in e2.content_files}
    # the 4 big files survive by name with the SAME inode (linked, not rewritten)
    for name, ino in big.items():
        assert name in after, f"big file {name} was rewritten by quick optimize"
        assert os.stat(after[name].path).st_ino == ino
    # each bucket now has at most 1 sub-threshold file
    small_per_bucket = Counter()
    for f in e2.content_files:
        if f.size < threshold:
            m = _BUCKET_FILE_RE.search(f.path.rsplit("/", 1)[-1])
            small_per_bucket[int(m.group(1))] += 1
    assert all(v <= 1 for v in small_per_bucket.values()), small_per_bucket

    # results unchanged and still accelerated
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["pb_idx"], hs.why_not(q)
    assert rows_equal(q, fast)

    # idempotence: a second quick optimize finds nothing to compact and
    # leaves the data version's file set unchanged
    spark.conf.set("spark.hyperspace.index.optimize.fileSizeThreshold", str(threshold))
    try:
        hs.optimize_index("pb_idx", "quick")
    finally:
        spark.conf.unset("spark.hyperspace.index.optimize.fileSizeThreshold")
    e3 = hs._log_mgr("pb_idx", hs.conf()).get_latest_stable_log()
    assert {f.path for f in e3.content_files} == {f.path for f in e2.content_files}


def test_link_or_copy_collision_is_loud(tmp_path):
    """link_or_copy falls back to a byte copy only for can't-link errnos
    (cross-device, unsupported FS); a dst that ALREADY EXISTS is a version
    -dir collision and must raise, not silently overwrite."""
    import pytest as _pytest

    from hyperspace_spark.fs import FileSystem

    fs = FileSystem()
    src = tmp_path / "src.bin"
    dst = tmp_path / "out" / "dst.bin"
    src.write_bytes(b"payload")
    fs.link_or_copy(str(src), str(dst))
    assert dst.read_bytes() == b"payload"
    assert os.stat(src).st_ino == os.stat(dst).st_ino
    with _pytest.raises(FileExistsError):
        fs.link_or_copy(str(src), str(dst))


def test_vacuum_old_version_preserves_hardlinked_files(spark, hs, mutable_src):
    """Hardlink safety: after an append-only incremental refresh links the
    old version's files into the new one, vacuuming outdated versions
    deletes the OLD directory — which only drops one name per inode.  The
    latest version must stay fully readable and correct."""
    hs.create_index(
        spark.read.parquet(mutable_src),
        CoveringIndexConfig(
            "vac_idx", ["o_custkey"], ["o_orderkey", "o_totalprice"], num_buckets=4
        ),
    )
    e0 = hs._log_mgr("vac_idx", hs.conf()).get_latest_stable_log()
    old_dir = e0.index_data_dirs[-1]
    _append_files(spark, mutable_src)
    hs.refresh_index("vac_idx", "incremental")
    assert os.path.exists(old_dir)

    hs.vacuum_outdated_indexes("vac_idx")
    assert not os.path.exists(old_dir), "outdated version dir must be removed"
    e1 = hs._log_mgr("vac_idx", hs.conf()).get_latest_stable_log()
    for f in e1.content_files:
        assert os.path.exists(f.path), f"linked file lost by vacuum: {f.path}"
    q = q_of(spark, mutable_src)
    fast, used = hs._apply_with_info(q)
    assert used == ["vac_idx"], hs.why_not(q)
    assert rows_equal(q, fast)

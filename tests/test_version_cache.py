"""Frames held per immutable index version (indexes.base.version_slot).

A data-skipping lookup filters the version's sketch rows held in the
driver, so once the version is warm ``apply()`` starts no Spark job; a
bucket-pruned covering lookup reuses its resolved bucket-file read.  A
new version (refresh, recreate) must never be served the old rows.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyperspace_spark import (
    CoveringIndexConfig,
    DataSkippingIndexConfig,
    Hyperspace,
    MinMaxSketch,
)
from hyperspace_spark.indexes import dataskipping
from hyperspace_spark.indexes.base import version_slot
from hyperspace_spark.metadata.entry import FileInfo, IndexLogEntry

from tests.conftest import count_jobs, rows_equal, table


def _write_source(spark, d, parts=6, shift=0):
    (
        table(spark, "lineitem")
        .withColumn("l_orderkey", F.col("l_orderkey") + shift)
        .select("l_orderkey", "l_quantity")
        .repartitionByRange(parts, "l_orderkey")
        .write.mode("overwrite")
        .parquet(d)
    )


def _lookup(df, lo, hi):
    return df.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)).select(
        "l_orderkey", "l_quantity"
    )


@pytest.fixture
def ds_env(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_source(spark, src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        spark.read.parquet(src), DataSkippingIndexConfig("vc_skip", [MinMaxSketch(["l_orderkey"])])
    )
    return hs, src


def test_warm_ds_apply_starts_no_job(spark, ds_env):
    hs, src = ds_env
    df = spark.read.parquet(src)
    lo = df.agg(F.min("l_orderkey")).first()[0]
    hs.apply(_lookup(df, lo, lo + 10))  # loads the version's sketch rows
    q = _lookup(df, lo + 1, lo + 20)  # fresh literal: no apply-cache hit
    fast, jobs = count_jobs(spark, lambda: hs.apply(q))
    assert jobs == 0
    _, used = hs._apply_with_info(q)
    assert used == ["vc_skip"], hs.why_not(q)
    assert len(fast.inputFiles()) < len(q.inputFiles())
    assert rows_equal(q, fast)


def test_incremental_refresh_serves_new_sketch_rows(spark, ds_env):
    hs, src = ds_env
    df = spark.read.parquet(src)
    hi = df.agg(F.max("l_orderkey")).first()[0]
    new_key = hi + 1000
    assert hs._apply_with_info(_lookup(df, hi, hi))[1] == ["vc_skip"]  # warm v0
    pq.write_table(
        pa.table({"l_orderkey": pa.array([new_key], pa.int64()), "l_quantity": [7.0]}),
        os.path.join(src, "appended.parquet"),
    )
    hs.refresh_index("vc_skip", "incremental")
    df = spark.read.parquet(src)
    q = _lookup(df, new_key, new_key)
    fast, used = hs._apply_with_info(q)
    assert used == ["vc_skip"], hs.why_not(q)
    assert [tuple(r) for r in fast.collect()] == [(new_key, 7.0)]
    assert len(fast.inputFiles()) == 1


def test_recreate_after_vacuum_prunes_by_new_data(spark, ds_env, tmp_path):
    hs, src = ds_env
    df = spark.read.parquet(src)
    lo = df.agg(F.min("l_orderkey")).first()[0]
    assert hs._apply_with_info(_lookup(df, lo, lo))[1] == ["vc_skip"]  # warm v0
    hs.delete_index("vc_skip")
    hs.vacuum_index("vc_skip")
    other = str(tmp_path / "other")
    _write_source(spark, other, shift=1_000_000)
    df2 = spark.read.parquet(other)
    hs.create_index(df2, DataSkippingIndexConfig("vc_skip", [MinMaxSketch(["l_orderkey"])]))
    lo2 = df2.agg(F.min("l_orderkey")).first()[0]
    q = _lookup(df2, lo2, lo2 + 5)
    fast, used = hs._apply_with_info(q)
    assert used == ["vc_skip"], hs.why_not(q)
    assert len(fast.inputFiles()) < len(q.inputFiles())
    assert q.count() > 0
    assert rows_equal(q, fast)


def test_size_bound_zero_takes_job_path(spark, ds_env, monkeypatch):
    monkeypatch.setattr(dataskipping, "SKETCH_CACHE_MAX_BYTES", 0)
    hs, src = ds_env
    df = spark.read.parquet(src)
    lo = df.agg(F.min("l_orderkey")).first()[0]
    hs.apply(_lookup(df, lo, lo + 10))
    q = _lookup(df, lo + 1, lo + 20)
    (fast, used), jobs = count_jobs(spark, lambda: hs._apply_with_info(q))
    assert used == ["vc_skip"], hs.why_not(q)
    assert jobs >= 1
    assert "sketch" not in hs._version_cache.get("vc_skip", (None, {}))[1]
    assert len(fast.inputFiles()) < len(q.inputFiles())
    assert rows_equal(q, fast)


def test_bucket_pruned_covering_read_is_reused(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_source(spark, src, parts=2)
    df = spark.read.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(df, CoveringIndexConfig("vc_cov", ["l_orderkey"], ["l_quantity"], num_buckets=4))
    key = df.select("l_orderkey").first()[0]
    q = df.filter(F.col("l_orderkey") == key).select("l_orderkey", "l_quantity")
    frames = []
    for _ in range(2):
        hs._apply_cache.clear()  # re-plan the same lookup
        fast, used = hs._apply_with_info(q)
        assert used == ["vc_cov"], hs.why_not(q)
        assert len(fast.inputFiles()) == 1  # one bucket file of four
        assert rows_equal(q, fast)
        slot = hs._version_cache["vc_cov"][1]
        assert len(slot) == 1
        frames.append(next(iter(slot.values())))
    assert frames[0] is frames[1]


def _entry(files):
    return IndexLogEntry(
        name="i",
        derived_kind="DS",
        derived_properties={},
        relations=[],
        signature="",
        index_data_dirs=["/idx/i/v__=0"],
        content_files=[FileInfo(p, size, mtime) for p, size, mtime in files],
    )


def test_version_slot_replaced_on_new_content():
    cache = {}
    old = _entry([("/idx/i/v__=0/a.parquet", 10, 1)])
    slot = version_slot(cache, old)
    slot["sketch"] = "v0 rows"
    assert version_slot(cache, old) is slot
    # Same directory, rewritten content (delete, vacuum, recreate).
    new = _entry([("/idx/i/v__=0/a.parquet", 12, 2)])
    assert version_slot(cache, new) == {}
    assert len(cache) == 1
    assert version_slot(None, old) is None
    assert version_slot(cache, _entry([])) is None  # nothing to key on

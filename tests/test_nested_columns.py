"""Nested-column covering indexes: dotted paths flatten to __hs_nested
top-level columns; query-time rewrite rebuilds partial structs.

Mirrors the reference's SampleNestedData fixture + nested resolution
(ResolverUtils.scala:44-98, dev flag IndexConstants.scala:77-78).
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import CoveringIndexConfig, Hyperspace
from hyperspace_spark.hyperspace import HyperspaceException

from tests.conftest import rows_equal


@pytest.fixture(scope="module")
def nested_src(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nested_src"))
    rows = [
        (i, f"guid{i:04d}", ("top" + str(i % 3), (f"leaf{i % 5}", i * 10)))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "c1 long, c2 string, nested struct<id:string, leaf:struct<id:string, cnt:long>>",
    )
    df.repartition(4).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def hs(spark, nested_src, tmp_path_factory):
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_nested")))
    hs.create_index(
        spark.read.parquet(nested_src),
        CoveringIndexConfig("n_idx", ["nested.leaf.cnt"], ["c1", "nested.id"]),
    )
    return hs


def test_nested_filter_rewrite(spark, hs, nested_src):
    df = spark.read.parquet(nested_src)
    q = df.filter(F.col("nested.leaf.cnt") == 250).select("c1", "nested.leaf.cnt")
    fast, used = hs._apply_with_info(q)
    assert used == ["n_idx"], hs.why_not(q)
    assert all("n_idx" in f for f in fast.inputFiles())
    assert rows_equal(q, fast)


def test_nested_range_with_included_nested(spark, hs, nested_src):
    df = spark.read.parquet(nested_src)
    q = df.filter("nested.leaf.cnt < 300").selectExpr("c1", "nested.id AS nid")
    fast, used = hs._apply_with_info(q)
    assert used == ["n_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_nested_not_covered_no_rewrite(spark, hs, nested_src):
    df = spark.read.parquet(nested_src)
    # nested.leaf.id is not covered by the index.
    q = df.filter("nested.leaf.cnt < 300").selectExpr("c1", "nested.leaf.id AS lid")
    fast, used = hs._apply_with_info(q)
    assert not used
    assert rows_equal(q, fast)


def test_nested_missing_column_rejected(spark, hs, nested_src):
    df = spark.read.parquet(nested_src)
    with pytest.raises(HyperspaceException):
        hs.create_index(df, CoveringIndexConfig("bad", ["nested.nope.x"], ["c1"]))


def test_zorder_nested_columns(spark, tmp_path):
    """Z-order over nested struct fields: build flattens to the covering
    convention (__hs_nested.*), file-stats pruning keys stay the dotted
    query spelling, and struct reconstruction serves the query."""
    from hyperspace_spark import ZOrderCoveringIndexConfig

    src = str(tmp_path / "src")
    spark.range(0, 20000).select(
        F.struct(
            (F.col("id") % 1000).alias("a"),
            (F.col("id") % 77).cast("double").alias("b"),
        ).alias("n"),
        F.col("id").alias("payload"),
    ).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    spark.conf.set("spark.hyperspace.index.zorder.targetSourceBytesPerPartition", "16384")
    try:
        df = spark.read.parquet(src)
        hs.create_index(df, ZOrderCoveringIndexConfig("nz2", ["n.a", "n.b"], ["payload"]))
        # Select LEAF paths (a whole-struct `n` select requires columns
        # the index does not cover — correct refusal, same as covering).
        q = df.filter("n.a BETWEEN 10 AND 20 AND n.b < 30.0").select(
            "n.a", "n.b", "payload"
        )
        fast, used = hs._apply_with_info(q)
        assert used == ["nz2"], hs.why_not(q)
        assert sorted(map(tuple, q.collect())) == sorted(map(tuple, fast.collect()))

        # Single nested column: range-clustered layout + file-stats pruning.
        hs.create_index(df, ZOrderCoveringIndexConfig("nz1", ["n.a"], ["payload"]))
        q1 = df.filter("n.a = 500").select("payload")
        fast1, used1 = hs._apply_with_info(q1)
        assert "nz1" in used1, hs.why_not(q1)
        assert sorted(map(tuple, q1.collect())) == sorted(map(tuple, fast1.collect()))
        entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "nz1")
        assert "n.a" in next(iter(entry.derived_properties["fileStats"].values()))
        assert 0 < len(fast1.inputFiles()) < len(entry.content_files), "nested stats did not prune"
    finally:
        spark.conf.unset("spark.hyperspace.index.zorder.targetSourceBytesPerPartition")


def test_dataskipping_nested_minmax(spark, tmp_path):
    """MinMax sketches on nested fields prune files (clustered layout)."""
    from hyperspace_spark import DataSkippingIndexConfig, MinMaxSketch

    src = str(tmp_path / "src")
    spark.range(0, 20000).select(
        F.struct((F.col("id") % 1000).alias("a")).alias("n"),
        F.col("id").alias("payload"),
    ).repartitionByRange(8, F.col("id") % 1000).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    df = spark.read.parquet(src)
    hs.create_index(df, DataSkippingIndexConfig("nds", [MinMaxSketch(["n.a"])]))
    q = df.filter("n.a = 500").select("n", "payload")
    fast, used = hs._apply_with_info(q)
    assert used == ["nds"], hs.why_not(q)
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, fast.collect()))
    assert len(fast.inputFiles()) < len(df.inputFiles())


def test_or_union_carries_nested_leaves(spark, nested_src, tmp_path):
    """The index-OR union reads each branch through the shared index
    leaf, which rebuilds projected nested leaves: a nested column above
    the disjunction is served by the union instead of failing replay."""
    src = spark.read.parquet(nested_src)
    hs2 = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs2.create_index(src, CoveringIndexConfig("or_a", ["c1"], ["c2", "nested.id"], num_buckets=4))
    hs2.create_index(src, CoveringIndexConfig("or_b", ["c2"], ["c1", "nested.id"], num_buckets=4))
    q = src.filter((F.col("c1") == 5) | (F.col("c2") == "guid0007")).select("c1", "nested.id")
    fast, used = hs2._apply_with_info(q)
    assert used == ["or_a", "or_b"], hs2.why_not(q)
    assert rows_equal(q, fast)

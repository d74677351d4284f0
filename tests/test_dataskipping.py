"""Data-skipping index: sketch build, predicate translation, file pruning.

Mirrors the reference's DataSkippingIndexIntegrationTest + sketch unit
tests.  The pruning assertion is the reference pattern: count input
files of the rewritten plan (SURVEY §5 rebuild strategy (b)).
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import (
    BloomFilterSketch,
    DataSkippingIndexConfig,
    Hyperspace,
    MinMaxSketch,
    ValueListSketch,
)

from tests.conftest import rows_equal, table


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    """Multi-file lineitem clustered by l_shipdate so MinMax pruning bites.
    ``l_shipdate`` reads as TIMESTAMP_NTZ; ``l_shipts`` is the same
    instant as a session-zone TIMESTAMP."""
    d = str(tmp_path_factory.mktemp("li_src"))
    (
        table(spark, "lineitem")
        .withColumn("l_shipts", F.col("l_shipdate").cast("timestamp"))
        .repartitionByRange(8, "l_shipdate")
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


@pytest.fixture(scope="module")
def hs(spark, src_dir, tmp_path_factory):
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_ds")))
    df = spark.read.parquet(src_dir)
    hs.create_index(
        df,
        DataSkippingIndexConfig(
            "li_skip",
            [
                MinMaxSketch(["l_shipdate"]),
                MinMaxSketch(["l_shipts"]),
                MinMaxSketch(["l_orderkey"]),
                ValueListSketch(["l_returnflag"]),
                BloomFilterSketch(["l_partkey"], fpp=0.01, expected_items=2000),
            ],
        ),
    )
    return hs


def n_input_files(df):
    return len(df.inputFiles())


def test_minmax_date_range_prunes(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    for col in ("l_shipdate", "l_shipts"):
        q = df.filter(F.col(col) < "1993-01-01").select("l_orderkey", "l_quantity")
        fast, used = hs._apply_with_info(q)
        assert used == ["li_skip"], hs.why_not(q)
        assert n_input_files(fast) < n_input_files(q)
        assert rows_equal(q, fast)


def test_minmax_point_lookup(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    key = df.select("l_orderkey").orderBy("l_orderkey").first()[0]
    q = df.filter(F.col("l_shipdate") < "1992-06-01").filter(F.col("l_quantity") > 0).select("l_orderkey")
    fast, used = hs._apply_with_info(q)
    assert used == ["li_skip"]
    assert rows_equal(q, fast)
    _ = key


def test_bloom_point_lookup_prunes_and_matches(spark, hs, tmp_path_factory):
    """Bloom must actually prune when files are clustered by the probe
    column (each file holds a distinct key range)."""
    from hyperspace_spark import BloomFilterSketch, DataSkippingIndexConfig

    d = str(tmp_path_factory.mktemp("li_pk"))
    (
        table(spark, "lineitem")
        .repartitionByRange(8, "l_partkey")
        .write.mode("overwrite")
        .parquet(d)
    )
    df = spark.read.parquet(d)
    hs.create_index(
        df, DataSkippingIndexConfig("li_bloom", [BloomFilterSketch(["l_partkey"], 0.01, 500)])
    )
    try:
        key = df.select("l_partkey").first()[0]
        q = df.filter(F.col("l_partkey") == key).select("l_orderkey", "l_partkey")
        fast, used = hs._apply_with_info(q)
        assert used == ["li_bloom"], hs.why_not(q)
        assert n_input_files(fast) < n_input_files(q)
        assert rows_equal(q, fast)
    finally:
        hs.delete_index("li_bloom")
        hs.vacuum_index("li_bloom")


def test_valuelist_in_clause(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    q = df.filter(F.col("l_returnflag").isin("R")).select("l_orderkey", "l_returnflag")
    fast, used = hs._apply_with_info(q)
    assert rows_equal(q, fast)


def test_unconvertible_predicate_no_rewrite(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    q = df.filter("l_comment_is_missing_anyway IS NULL") if "l_comment_is_missing_anyway" in df.columns else df.filter(
        F.length("l_linestatus") > 0
    ).select("l_orderkey")
    fast, used = hs._apply_with_info(q)
    assert not used
    assert fast is q


def test_or_predicate_sound(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    q = df.filter(
        (F.col("l_shipdate") < "1993-01-01") | (F.col("l_shipdate") > "1998-06-01")
    ).select("l_orderkey", "l_shipdate")
    fast, used = hs._apply_with_info(q)
    assert used == ["li_skip"]
    assert rows_equal(q, fast)


def test_or_with_unconvertible_branch_is_true(spark, src_dir, hs):
    # OR with an unconvertible branch must not prune anything (soundness).
    df = spark.read.parquet(src_dir)
    q = df.filter(
        (F.col("l_shipdate") < "1993-01-01") | (F.length("l_linestatus") > 5)
    ).select("l_orderkey")
    fast, used = hs._apply_with_info(q)
    assert not used  # whole predicate converts to TRUE -> no rewrite
    assert rows_equal(q, fast)


def test_skipping_loses_to_covering(spark, src_dir, hs, tmp_path_factory):
    """Reference: skipping score=1 always loses to covering (R7)."""
    from hyperspace_spark import CoveringIndexConfig

    df = spark.read.parquet(src_dir)
    hs.create_index(
        df, CoveringIndexConfig("li_cover", ["l_shipdate"], ["l_orderkey", "l_quantity"])
    )
    try:
        q = df.filter(F.col("l_shipdate") < "1993-01-01").select("l_orderkey", "l_quantity")
        fast, used = hs._apply_with_info(q)
        assert used == ["li_cover"]
        assert rows_equal(q, fast)
    finally:
        hs.delete_index("li_cover")
        hs.vacuum_index("li_cover")


def test_skipping_applies_under_join(spark, src_dir, hs):
    """The optimizer recurses into join children: Filter<-Scan below a
    join still gets file pruning (score 1 per side)."""
    li = spark.read.parquet(src_dir)
    o = table(spark, "orders")
    q = (
        li.filter(F.col("l_shipdate") < "1993-01-01")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "o_custkey")
    )
    fast, used = hs._apply_with_info(q)
    assert "li_skip" in used, hs.why_not(q)
    assert rows_equal(q, fast)


def test_bloom_float32_probe_not_converted():
    """float32 build values widen to different doubles than the parsed
    literal (0.1f -> 0.10000000149011612 vs 0.1), so probing float
    columns would prune files that DO contain matches — the dtype must
    be probe-unsafe."""
    from hyperspace_spark import BloomFilterSketch
    from hyperspace_spark.planner.expr import Lit

    sk = BloomFilterSketch(["f"], 0.01, 100)
    assert sk._safe_lit(Lit(sql="0.1", dtype="float")) is None
    assert sk._safe_lit(Lit(sql="0.1", dtype="double")) is not None


def test_bloom_float32_equality_still_correct(spark, hs, tmp_path_factory):
    """End-to-end: with float probes disabled the index simply doesn't
    prune on the float conjunct — results must equal the raw scan."""
    from hyperspace_spark import BloomFilterSketch, DataSkippingIndexConfig

    d = str(tmp_path_factory.mktemp("f32"))
    spark.sql(
        "SELECT CAST(id AS INT) AS k, CAST(CAST(id AS FLOAT) / 10 AS FLOAT) AS f FROM range(1000)"
    ).repartitionByRange(4, "k").write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d)
    hs.create_index(
        df, DataSkippingIndexConfig("f32_bloom", [BloomFilterSketch(["f"], 0.01, 500)])
    )
    try:
        q = df.filter(F.col("f") == F.lit(0.1).cast("float")).select("k", "f")
        fast, _used = hs._apply_with_info(q)
        assert rows_equal(q, fast)
        assert q.count() >= 1  # non-vacuous: 0.1f exists in the data
    finally:
        hs.delete_index("f32_bloom")
        hs.vacuum_index("f32_bloom")


def test_dataskipping_applies_after_source_delete(spark, hs, tmp_path_factory):
    """DS indexes hold one row per FILE and the rule intersects with the
    live file set, so a source delete must NOT veto the candidate (the
    reference's DataSkippingIndex.canHandleDeletedFiles = true).  Before
    the fix, any delete disabled all data-skipping until full refresh."""
    import os

    from hyperspace_spark import DataSkippingIndexConfig, MinMaxSketch

    d = str(tmp_path_factory.mktemp("ds_del"))
    (
        table(spark, "lineitem")
        .repartitionByRange(6, "l_orderkey")
        .write.mode("overwrite")
        .parquet(d)
    )
    df = spark.read.parquet(d)
    hs.create_index(
        df, DataSkippingIndexConfig("ds_del_idx", [MinMaxSketch(["l_orderkey"])])
    )
    try:
        parts = sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )
        os.remove(os.path.join(d, parts[-1]))  # delete one source file
        df2 = spark.read.parquet(d)
        lo = df2.agg(F.min("l_orderkey")).first()[0]
        q = df2.filter(F.col("l_orderkey") <= lo).select("l_orderkey")
        fast, used = hs._apply_with_info(q)
        assert used == ["ds_del_idx"], hs.why_not(q)
        assert n_input_files(fast) < n_input_files(q)
        assert rows_equal(q, fast)
    finally:
        hs.delete_index("ds_del_idx")
        hs.vacuum_index("ds_del_idx")


def test_minmax_inset_large_list_bounded_expression():
    """r7: above _INSET_CHAIN_MAX literals the emitted sketch predicate is
    ONE array literal probed by an exists() lambda — not a 1,000-branch
    OR-chain (role of the reference's SortedArrayLowerBound binary-search
    expression, SortedArrayLowerBound.scala:30-102)."""
    from hyperspace_spark.planner.expr import Attr, InExpr, Lit

    mm = MinMaxSketch(["k"])
    attr = Attr(sql="k", name="k")
    small = InExpr(sql="", child=attr, values=tuple(Lit(sql=str(i)) for i in range(10)))
    out_small = mm.convert(small)
    assert " OR " in out_small and "exists(" not in out_small
    big = InExpr(sql="", child=attr, values=tuple(Lit(sql=str(i)) for i in range(1000)))
    out_big = mm.convert(big)
    assert out_big.count(" OR ") == 0 and out_big.startswith("exists(array(")
    # same shape for the widened ValueList path
    vl = ValueListSketch(["k"])
    wide = Attr(sql="k", name="k", dtype="integer", cast_to="long")
    out_vl = vl.convert(InExpr(sql="", child=wide, values=tuple(Lit(sql=str(i)) for i in range(1000))))
    assert out_vl.count(" OR ") == 0 and out_vl.startswith("exists(array(")


def test_minmax_large_in_list_prunes(spark, hs, tmp_path_factory):
    """End-to-end: a 1,000-element IN list on a range-clustered column
    prunes files and returns exact rows."""
    d = str(tmp_path_factory.mktemp("li_ok"))
    (
        table(spark, "lineitem")
        .repartitionByRange(8, "l_orderkey")
        .write.mode("overwrite")
        .parquet(d)
    )
    df = spark.read.parquet(d)
    hs.create_index(
        df, DataSkippingIndexConfig("li_inset", [MinMaxSketch(["l_orderkey"])])
    )
    try:
        keys = [
            r[0]
            for r in df.select("l_orderkey").distinct().orderBy("l_orderkey").limit(1000).collect()
        ]
        assert len(keys) > 64  # must take the exists() path
        q = df.filter(F.col("l_orderkey").isin(keys)).select("l_orderkey", "l_quantity")
        fast, used = hs._apply_with_info(q)
        assert used == ["li_inset"], hs.why_not(q)
        assert n_input_files(fast) < n_input_files(q)
        assert rows_equal(q, fast)
    finally:
        hs.delete_index("li_inset")
        hs.vacuum_index("li_inset")


def test_multi_skipping_index_intersection(spark, tmp_path):
    """r10: two separate skipping indexes on the same source COMPOSE — a
    file skips when EITHER index's sketch rules it out, so the read is
    the intersection of the per-index kept sets (each a sound superset
    of the matching files)."""
    import datetime
    import os
    import re

    from pyspark.sql import functions as F

    from hyperspace_spark import (
        BloomFilterSketch,
        DataSkippingIndexConfig,
        Hyperspace,
        MinMaxSketch,
    )

    src = str(tmp_path / "li")
    (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .repartitionByRange(8, "l_shipdate")
        .write.parquet(src)
    )
    li = spark.read.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    # index A prunes on the range-layout ship date; index B blooms on
    # l_orderkey (any one key lives in few files) — a predicate touching
    # both prunes more through the intersection than either alone.
    hs.create_index(li, DataSkippingIndexConfig("ds_ship", [MinMaxSketch(["l_shipdate"])]))
    hs.create_index(
        li, DataSkippingIndexConfig("ds_okey", [BloomFilterSketch(["l_orderkey"], 0.01, 4000)])
    )
    lo, hi = li.agg(F.min("l_shipdate"), F.max("l_shipdate")).collect()[0]
    span = (hi - lo).days
    a = lo + datetime.timedelta(days=span // 4)
    b = lo + datetime.timedelta(days=3 * span // 4)
    okey = li.filter(f"l_shipdate >= '{a}'").select("l_orderkey").limit(1).collect()[0][0]
    q = li.filter(
        f"l_shipdate >= '{a}' AND l_shipdate < '{b}' AND l_orderkey = {okey}"
    ).select("l_orderkey", "l_quantity")
    out, used = hs._apply_with_info(q)
    assert set(used) == {"ds_ship", "ds_okey"}, hs.why_not(q)
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, out.collect()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert m and int(m.group(1)) < n_files, plan  # some files pruned

    # the intersection reads no more files than either index alone would
    def kept_with(name, sketch):
        hs2 = Hyperspace(spark, system_path=str(tmp_path / f"idx_{name}"))
        hs2.create_index(li, DataSkippingIndexConfig(f"one_{name}", [sketch]))
        o2, u2 = hs2._apply_with_info(q)
        assert u2 == [f"one_{name}"]
        p2 = o2._jdf.queryExecution().executedPlan().toString()
        mm = re.search(r"InMemoryFileIndex\((\d+) paths?\)", p2)
        return int(mm.group(1)) if mm else n_files

    both = int(m.group(1))
    assert both <= kept_with("ship", MinMaxSketch(["l_shipdate"]))
    assert both <= kept_with("okey", BloomFilterSketch(["l_orderkey"], 0.01, 4000))

"""MetadataOnlyAggRule: global min/max/sum/count/avg answered from the
data-skipping sketch index without scanning the source — the
manifest-level 'metadata-only query' Delta/Iceberg perform, generalized
to any sketched column (extension beyond the reference, whose sketches
only ever skip files: dataskipping/rules/ApplyDataSkippingIndex.scala).

Covers: plain aggregates, scalar wrappers (Catalyst collapses post-agg
projects INTO the Aggregate), hybrid appends/deletes (exactly additive /
subtractable on per-file rows), and the decline paths that must never
produce a wrong answer (DISTINCT, string literals, unsupported
aggregates, filters present).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import (
    DataSkippingIndexConfig,
    Hyperspace,
    MinMaxSketch,
    RowCountSketch,
    SumSketch,
)

from tests.conftest import table


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("li_meta_src"))
    (
        table(spark, "lineitem")
        .repartitionByRange(8, "l_shipdate")
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


@pytest.fixture(scope="module")
def hs(spark, src_dir, tmp_path_factory):
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_meta")))
    hs.create_index(
        spark.read.parquet(src_dir),
        DataSkippingIndexConfig(
            "li_meta",
            [
                MinMaxSketch(["l_shipdate"]),
                RowCountSketch(),
                SumSketch(["l_quantity"]),
                SumSketch(["l_orderkey"]),
            ],
        ),
    )
    return hs


def _assert_same(q, fast):
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in q.schema.fields
    ], (fast.schema, q.schema)
    exp, got = q.collect(), fast.collect()
    assert len(exp) == len(got)
    for re_, rg in zip(exp, got):
        for k in re_.asDict():
            e, g = re_[k], rg[k]
            if isinstance(e, float):
                assert abs(e - g) < 1e-9 * max(1, abs(e)), (k, e, g)
            else:
                assert e == g, (k, e, g)


def test_plain_aggregates_from_index(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    q = df.agg(
        F.min("l_shipdate").alias("min_sd"),
        F.max("l_shipdate").alias("max_sd"),
        F.count("*").alias("cnt"),
        F.sum("l_quantity").alias("sum_q"),
        F.count("l_quantity").alias("cnt_q"),
        F.avg("l_quantity").alias("avg_q"),
        F.sum("l_orderkey").alias("sum_ok"),
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["li_meta"], hs.why_not(q)
    # The whole point: the rewritten plan reads the tiny index, not the
    # 8-file source.
    assert len(fast.inputFiles()) < len(q.inputFiles())
    _assert_same(q, fast)


def test_scalar_wrappers_and_collapsed_project(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    q = df.agg(F.round(F.sum("l_quantity"), 2).alias("s2"), F.count("*").alias("cnt"))
    fast, used = hs._apply_with_info(q)
    assert used == ["li_meta"]
    _assert_same(q, fast)
    # A select on top of the agg is collapsed into the Aggregate by
    # Catalyst; the rule must still fire.
    q2 = (
        df.agg(F.count("*").alias("cnt"), F.min("l_shipdate").alias("min_sd"))
        .select((F.col("cnt") + 1).alias("cnt1"), "min_sd")
    )
    fast2, used2 = hs._apply_with_info(q2)
    assert used2 == ["li_meta"]
    _assert_same(q2, fast2)


def test_declines_never_wrong(spark, src_dir, hs):
    df = spark.read.parquet(src_dir)
    # DISTINCT aggregate: no rewrite.
    _, u = hs._apply_with_info(df.agg(F.countDistinct("l_orderkey").alias("d")))
    assert u == []
    # String literal in an output expression: no rewrite (the call regex
    # cannot tell code from literal content).
    q = df.agg(F.concat(F.lit("n="), F.count("*").cast("string")).alias("s"))
    f, u = hs._apply_with_info(q)
    assert u == [] and f.collect() == q.collect()
    # Unsupported aggregate alongside a supported one: no rewrite.
    q2 = df.agg(F.count("*").alias("c"), F.stddev("l_quantity").alias("sd"))
    _, u2 = hs._apply_with_info(q2)
    assert u2 == []
    # Filter present: metadata-only is ineligible (skipping path instead).
    q3 = df.filter("l_quantity > 10").agg(F.count("*").alias("c"))
    f3, u3 = hs._apply_with_info(q3)
    assert "li_meta" not in u3 or f3.collect() == q3.collect()
    assert f3.collect() == q3.collect()


def test_hybrid_append_and_delete_exact(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("li_meta_hybrid"))
    table(spark, "lineitem").repartitionByRange(6, "l_orderkey").write.mode(
        "overwrite"
    ).parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_meta_h")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "li_meta_h",
            [MinMaxSketch(["l_shipdate"]), RowCountSketch(), SumSketch(["l_quantity"])],
        ),
    )
    # Appends are exactly additive (raw partial over ONLY the new files),
    # deletes exactly subtractable (the file's sketch row is dropped).
    table(spark, "lineitem").limit(500).repartition(2).write.mode("append").parquet(src)
    os.remove(sorted(glob.glob(f"{src}/part-0000*"))[0])
    df = spark.read.parquet(src)
    q = df.agg(
        F.count("*").alias("cnt"),
        F.sum("l_quantity").alias("sum_q"),
        F.min("l_shipdate").alias("min_sd"),
        F.avg("l_quantity").alias("avg_q"),
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["li_meta_h"], hs.why_not(q)
    _assert_same(q, fast)


def test_count_distinct_from_valuelist(spark, tmp_path_factory):
    """count(DISTINCT col) folds from ValueListSketch's exact per-file
    value lists; columns without a ValueList decline."""
    from pyspark.sql import functions as F

    from hyperspace_spark import ValueListSketch

    src = str(tmp_path_factory.mktemp("li_cd_src"))
    (
        table(spark, "lineitem")
        .repartitionByRange(6, "l_orderkey")
        .write.mode("overwrite")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_cd")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "li_cd", [ValueListSketch(["l_returnflag"]), RowCountSketch()]
        ),
    )
    df = spark.read.parquet(src)
    q = df.agg(
        F.countDistinct("l_returnflag").alias("d"), F.count("*").alias("c")
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["li_cd"], hs.why_not(q)
    _assert_same(q, fast)
    # no ValueList on l_quantity -> decline
    _, u = hs._apply_with_info(df.agg(F.countDistinct("l_quantity").alias("d")))
    assert u == []
    # sum(DISTINCT ...) never rewrites
    q3 = df.agg(F.sum_distinct(F.col("l_quantity")).alias("sd"), F.count("*").alias("c"))
    f3, u3 = hs._apply_with_info(q3)
    assert u3 == [] and f3.collect() == q3.collect()


def test_grouped_by_partition_column(spark, tmp_path_factory):
    """GROUP BY a partition column folds from PartitionSketch-keyed rows;
    non-partition grouping keys decline (their per-file value is not
    constant, so sketch rows cannot regroup exactly)."""
    from pyspark.sql import functions as F

    from hyperspace_spark import PartitionSketch

    src = str(tmp_path_factory.mktemp("orders_part_meta"))
    (
        table(spark, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_meta_g")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "part_meta",
            [PartitionSketch(["o_year"]), RowCountSketch(), SumSketch(["o_totalprice"])],
        ),
    )
    df = spark.read.parquet(src)
    q = df.groupBy("o_year").agg(
        F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("tot")
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["part_meta"], hs.why_not(q)
    _assert_same(q.orderBy("o_year"), fast.orderBy("o_year"))
    # df.select(pcol).distinct() is a grouping-only Aggregate: also served.
    qd = df.select("o_year").distinct()
    fastd, usedd = hs._apply_with_info(qd)
    assert usedd == ["part_meta"]
    assert sorted(r[0] for r in fastd.collect()) == sorted(r[0] for r in qd.collect())
    # Non-partition grouping key: decline.
    _, u = hs._apply_with_info(df.groupBy("o_orderpriority").agg(F.count("*").alias("c")))
    assert u == []
    # min/max of the PARTITION column works off PartitionSketch alone
    # (no MinMax declared on o_year) — the freshness query.
    qf = df.agg(F.max("o_year").alias("latest"), F.min("o_year").alias("first"))
    fastf, usedf = hs._apply_with_info(qf)
    assert usedf == ["part_meta"], hs.why_not(qf)
    _assert_same(qf, fastf)
    # Hybrid: a NEW partition value appended after the build stays exact.
    (
        table(spark, "orders")
        .limit(100)
        .withColumn("o_year", F.lit(2099))
        .write.mode("append")
        .partitionBy("o_year")
        .parquet(src)
    )
    df2 = spark.read.parquet(src)
    q2 = df2.groupBy("o_year").agg(F.count("*").alias("cnt"))
    fast2, used2 = hs._apply_with_info(q2)
    assert used2 == ["part_meta"], hs.why_not(q2)
    _assert_same(q2.orderBy("o_year"), fast2.orderBy("o_year"))


def test_uncaptured_aggregate_over_grouping_key_never_folds(spark, tmp_path_factory):
    """Regression (r8 review, CONFIRMED wrong-results repro): an output
    aggregate the span regex does not capture but which references only
    grouping columns — first(pcol), sum(pcol*2) — would re-evaluate as an
    implicit GLOBAL aggregate over the fold frame (legal SQL, one wrong
    row, no error).  Both the plan-time span-less check and the
    structural Aggregate-on-top guard must force a decline with exact
    results."""
    from pyspark.sql import functions as F

    from hyperspace_spark import PartitionSketch

    src = str(tmp_path_factory.mktemp("orders_uncaptured"))
    (
        table(spark, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_unc")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "pm_u",
            [PartitionSketch(["o_year"]), RowCountSketch(), SumSketch(["o_totalprice"])],
        ),
    )
    df = spark.read.parquet(src)
    cases = [
        df.groupBy("o_year").agg(F.first("o_year").alias("y")),
        df.groupBy("o_year").agg(F.sum(F.col("o_year") * 2).alias("s")),
        # captured span + uncaptured aggregate in the SAME query: passes
        # the span-less check, must hit the structural guard
        df.groupBy("o_year").agg(
            (F.count("*") + F.sum(F.col("o_year") * 2)).alias("mix")
        ),
    ]
    for i, q in enumerate(cases):
        fast, used = hs._apply_with_info(q)
        assert used == [], (i, used)
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, q.collect())), i


def test_partition_filter_folds_exactly(spark, tmp_path_factory):
    """A WHERE referencing only partition columns filters the sketch ROWS
    (exact — partition values are constant per file); a filter touching
    any data column must NOT metadata-fold (the skipping rule may still
    prune source files, which keeps the source scan and exact values)."""
    from pyspark.sql import functions as F

    from hyperspace_spark import PartitionSketch

    src = str(tmp_path_factory.mktemp("orders_pfilter"))
    (
        table(spark, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_pf")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "pm_f",
            [PartitionSketch(["o_year"]), RowCountSketch(), SumSketch(["o_totalprice"])],
        ),
    )
    df = spark.read.parquet(src)
    for pred in (
        "o_year >= 1998",
        "o_year BETWEEN 1996 AND 1998",
        "o_year IN (1995, 1999)",
        "o_year % 2 = 0",
    ):
        q = df.filter(pred).agg(
            F.count("*").alias("c"), F.round(F.sum("o_totalprice"), 2).alias("t")
        )
        fast, used = hs._apply_with_info(q)
        assert used == ["pm_f"], (pred, hs.why_not(q))
        assert all("hsidx_pf" in f for f in fast.inputFiles()), pred
        _assert_same(q, fast)
    # filtered + grouped together
    qg = df.filter("o_year >= 1997").groupBy("o_year").agg(F.count("*").alias("c"))
    fastg, usedg = hs._apply_with_info(qg)
    assert usedg == ["pm_f"]
    _assert_same(qg.orderBy("o_year"), fastg.orderBy("o_year"))
    # data-column predicate: values exact, source still scanned (no fold)
    qm = df.filter("o_year > 1996 AND o_totalprice > 0").agg(F.count("*").alias("c"))
    fastm, _ = hs._apply_with_info(qm)
    assert fastm.collect() == qm.collect()
    assert not all("hsidx_pf" in f for f in fastm.inputFiles())


def test_indexes_listing_with_columnless_sketch(spark, src_dir, hs):
    """Regression (r9, found by the sf10 probe): RowCountSketch
    serializes columns=[], and dict.get returns that EXISTING empty
    list — indexes() raised IndexError for any skipping index carrying
    a column-less sketch, which silently cascaded into probe scripts
    treating the whole catalog as absent."""
    rows = hs.indexes().collect()
    row = next(r for r in rows if r["name"] == "li_meta")
    cols = list(row["indexedColumns"])
    assert "l_shipdate" in cols and "?" in cols  # RowCount shows as '?'


def test_late_decline_retries_lower_scoring_rule(spark, tmp_path_factory, monkeypatch):
    """Regression (r8 advice, rules.py): when MetadataOnlyAggRule wins
    planning but its replacement raises during replay (late structural
    decline), apply() must RE-OPTIMIZE with the failing rule excluded and
    keep the lower-scoring DataSkipping rewrite — not fall back to the
    raw plan and lose every acceleration."""
    from pyspark.sql import functions as F

    from hyperspace_spark import PartitionSketch
    from hyperspace_spark.planner import rules as rules_mod

    src = str(tmp_path_factory.mktemp("orders_latedecline"))
    (
        table(spark, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_ld")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "pm_ld",
            [PartitionSketch(["o_year"]), RowCountSketch(), SumSketch(["o_totalprice"])],
        ),
    )
    df = spark.read.parquet(src)
    q = df.filter("o_year >= 1998").agg(
        F.count("*").alias("c"), F.round(F.sum("o_totalprice"), 2).alias("t")
    )
    # Baseline: the metadata fold wins and reads only index files.
    fast, used = hs._apply_with_info(q)
    assert used == ["pm_ld"] and all("hsidx_ld" in f for f in fast.inputFiles())

    # Sabotage the fold's replacement: every call now declines late.
    def _boom(*a, **k):
        raise RuntimeError("structural guard: decline late")

    monkeypatch.setattr(rules_mod, "_metadata_only_agg_df", _boom)
    spark.conf.set("spark.hyperspace.apply.cacheTtlSeconds", "0")
    from hyperspace_spark import telemetry

    events = []
    handler = lambda ev: events.append(ev) if ev.kind == "rule_excluded" else None
    telemetry.on_event(handler)
    try:
        fast2, used2 = hs._apply_with_info(q)
    finally:
        telemetry.off_event(handler)
        spark.conf.unset("spark.hyperspace.apply.cacheTtlSeconds")
    # The silent-masking trap (r9: a NameError in the fold was invisible
    # behind the retry): a late decline MUST leave a breadcrumb naming
    # the excluded rule and the exception.
    assert events and "MetadataOnlyAggRule" in events[0].detail, events
    assert "decline late" in events[0].detail
    # The skipping rewrite (score 1) must survive the retry: index still
    # used, but as file pruning over the SOURCE scan, not a fold.
    assert used2 == ["pm_ld"], used2
    assert not all("hsidx_ld" in f for f in fast2.inputFiles())
    _assert_same(q, fast2)


def test_nondeterministic_filter_never_folds(spark, tmp_path_factory):
    """Regression (r8 review, CONFIRMED wrong-results repro): rand()-style
    terms carry no column references, so the refs-subset check alone let
    the predicate evaluate once per FILE sketch row instead of per data
    row (repro: 5074 -> 2500 rows).  The FilterN.deterministic flag must
    decline the fold."""
    from pyspark.sql import functions as F

    from hyperspace_spark import PartitionSketch

    src = str(tmp_path_factory.mktemp("orders_nondet"))
    (
        table(spark, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(src)
    )
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_nd")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "pm_nd", [PartitionSketch(["o_year"]), RowCountSketch()]
        ),
    )
    df = spark.read.parquet(src)
    q = df.filter("o_year >= 1995 AND rand(42) < 0.5").agg(F.count("*").alias("c"))
    fast, used = hs._apply_with_info(q)
    assert used == [], used
    # Sanity: the count must be row-scale, not file-scale.
    n_all = df.filter("o_year >= 1995").count()
    got = fast.collect()[0]["c"]
    assert 0.3 * n_all < got < 0.7 * n_all, (got, n_all)
    # The deterministic version still folds.
    q2 = df.filter("o_year >= 1995").agg(F.count("*").alias("c"))
    fast2, used2 = hs._apply_with_info(q2)
    assert used2 == ["pm_nd"] and fast2.collect()[0]["c"] == n_all


def test_metadata_fold_over_delta_source(spark, tmp_path_factory):
    """The fold composes with snapshot sources: a skipping index over a
    Delta table answers global aggregates, and a Delta APPEND after the
    build flows through the hybrid raw-partial path exactly."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.delta import read_delta, write_delta

    root = str(tmp_path_factory.mktemp("delta_meta")) + "/dtab"
    orders = table(spark, "orders")
    write_delta(orders.repartition(4), root)
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_dm")))
    hs.create_index(
        read_delta(spark, root),
        DataSkippingIndexConfig(
            "dmeta",
            [RowCountSketch(), SumSketch(["o_totalprice"]), MinMaxSketch(["o_orderdate"])],
        ),
    )
    q = read_delta(spark, root).agg(
        F.count("*").alias("c"),
        F.round(F.sum("o_totalprice"), 2).alias("t"),
        F.max("o_orderdate").alias("mx"),
    )
    fast, used = hs._apply_with_info(q)
    assert used == ["dmeta"], hs.why_not(q)
    _assert_same(q, fast)
    write_delta(orders.limit(200), root, mode="append")
    q2 = read_delta(spark, root).agg(
        F.count("*").alias("c"), F.round(F.sum("o_totalprice"), 2).alias("t")
    )
    fast2, used2 = hs._apply_with_info(q2)
    assert used2 == ["dmeta"], hs.why_not(q2)
    _assert_same(q2, fast2)


def test_sketch_roundtrip_and_refresh(spark, tmp_path_factory):
    """New sketch kinds survive to_json/from_json and incremental refresh."""
    from hyperspace_spark.indexes.sketches import sketch_from_json

    rc = sketch_from_json(RowCountSketch().to_json())
    assert isinstance(rc, RowCountSketch) and rc.prefix() == "RowCount"
    sm = sketch_from_json(SumSketch(["l_quantity"]).to_json())
    assert isinstance(sm, SumSketch) and sm.prefix() == "Sum_l_quantity"

    src = str(tmp_path_factory.mktemp("li_meta_refresh"))
    table(spark, "lineitem").repartition(4).write.mode("overwrite").parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_meta_r")))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "li_meta_r", [RowCountSketch(), SumSketch(["l_quantity"])]
        ),
    )
    table(spark, "lineitem").limit(300).repartition(1).write.mode("append").parquet(src)
    hs.refresh_index("li_meta_r", mode="incremental")
    df = spark.read.parquet(src)
    q = df.agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("s"))
    fast, used = hs._apply_with_info(q)
    assert used == ["li_meta_r"], hs.why_not(q)
    _assert_same(q, fast)


def test_sketch_cache_invalidated_by_wipe_and_rebuild(spark, tmp_path):
    """Regression (r9 review): a wipe-and-rebuild of the whole system
    path (log ids restart, so the SAME v__=1 path returns with different
    content — the Workspace fingerprint discipline) must not serve the
    deleted index's rows.  The fold reads the sketch rows held per index
    version (``indexes.base.version_slot``), keyed on the version's
    content files (path, size, mtime), so the rebuilt version is
    re-read."""
    import shutil

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    sp = str(tmp_path / "idx")
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=sp)
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig("wr", [RowCountSketch(), SumSketch(["v"])]),
    )
    spark.conf.set("spark.hyperspace.apply.cacheTtlSeconds", "0")
    try:
        q = spark.read.parquet(src).agg(F.count("*").alias("c"), F.sum("v").alias("s"))
        fast, used = hs._apply_with_info(q)
        assert used == ["wr"] and fast.collect()[0]["c"] == 100

        # Wipe BOTH the index system path and the source; rebuild with
        # different data under the same paths (v__=1 path reused).
        shutil.rmtree(sp)
        shutil.rmtree(src)
        spark.range(0, 250).selectExpr("id AS k", "id * 3 AS v").coalesce(1).write.parquet(src)
        hs2 = Hyperspace(spark, system_path=sp)
        hs2.create_index(
            spark.read.parquet(src),
            DataSkippingIndexConfig("wr", [RowCountSketch(), SumSketch(["v"])]),
        )
        q2 = spark.read.parquet(src).agg(F.count("*").alias("c"), F.sum("v").alias("s"))
        fast2, used2 = hs2._apply_with_info(q2)
        got = fast2.collect()[0]
        assert used2 == ["wr"] and got["c"] == 250, got
        assert got["s"] == sum(i * 3 for i in range(250))
    finally:
        spark.conf.unset("spark.hyperspace.apply.cacheTtlSeconds")


def test_fold_pins_no_frame_after_delete_and_vacuum(spark, tmp_path):
    """The fold folds the sketch rows the version cache holds in the
    driver, the same rows pruning filters: nothing is Spark-persisted,
    so once the index is deleted and vacuumed no cached frame of it
    outlives it."""
    src = str(tmp_path / "src")
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v").coalesce(2).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig("pin", [MinMaxSketch(["v"]), RowCountSketch()]),
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    q = spark.read.parquet(src).agg(F.max("v").alias("m"), F.count("*").alias("c"))
    fast, used = hs._apply_with_info(q)
    assert used == ["pin"], hs.why_not(q)
    _assert_same(q, fast)
    hs.delete_index("pin")
    hs.vacuum_index("pin")
    assert hs._version_cache == {}
    assert jsc.getPersistentRDDs().size() == before

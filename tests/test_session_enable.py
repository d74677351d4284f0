"""Session-level enable: on an enabled session, ``spark.sql``, DataFrame
actions (collect/count/show/toPandas), ``df.write``, ``df.rdd`` and
``writeStream`` sinks route through the index planner with no explicit
hs.apply() (reference package.scala:40-93 ergonomics); engine-internal
frames are never planned as user queries; disable restores stock
behavior.  Routing is observed through the ``apply`` telemetry events."""

import os

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import (
    CoveringIndexConfig,
    Hyperspace,
    disable_hyperspace,
    enable_hyperspace,
    is_hyperspace_enabled,
)

from tests.conftest import apply_events


@pytest.fixture
def indexed(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("g"),
        (F.col("id") * 2.5).alias("v"),
    ).repartition(4).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(
        spark.read.parquet(src),
        CoveringIndexConfig("sess_idx", ["g"], ["k", "v"], num_buckets=4),
    )
    yield hs, src
    hs.disable()


def test_enable_routes_spark_sql(indexed, spark, tmp_path):
    hs, src = indexed
    spark.read.parquet(src).createOrReplaceTempView("sess_t")
    q = "SELECT k, v FROM sess_t WHERE g = 13"
    baseline = sorted(map(tuple, spark.sql(q).collect()))

    assert not is_hyperspace_enabled(spark)
    hs.enable()
    assert is_hyperspace_enabled(spark)
    df = spark.sql(q)
    # The index's lineage column only exists in index data, so its
    # presence in the scan relation proves the rewrite (FileScan location
    # strings truncate long /tmp paths, so don't grep for the path).
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_data_file_id" in plan, plan
    assert sorted(map(tuple, df.collect())) == baseline

    # conf kill switch still wins over enable()
    spark.conf.set("spark.hyperspace.apply.enabled", "false")
    try:
        plan_off = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        assert "_data_file_id" not in plan_off
    finally:
        spark.conf.set("spark.hyperspace.apply.enabled", "true")

    hs.disable()
    assert not is_hyperspace_enabled(spark)
    plan2 = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
    assert "_data_file_id" not in plan2
    # restored to the CLASS method, not a wrapper
    assert "sql" not in spark.__dict__


def test_enable_idempotent_and_nonquery_sql(indexed, spark):
    hs, src = indexed
    hs.enable()
    hs.enable()  # no stacking: still one level of routing
    # DDL/commands through routed sql must not raise (apply falls back)
    spark.sql("CREATE TABLE IF NOT EXISTS sess_ddl_probe (a INT) USING parquet")
    spark.sql("DROP TABLE IF EXISTS sess_ddl_probe")
    hs.disable()
    hs.disable()  # double disable is a no-op


def test_module_level_helpers(indexed, spark, tmp_path):
    hs, src = indexed
    got = enable_hyperspace(spark, hs)
    assert got is hs and is_hyperspace_enabled(spark)
    disable_hyperspace(spark)
    assert not is_hyperspace_enabled(spark)


def test_enable_routes_dataframe_actions(indexed, spark):
    """r6: ``spark.read.parquet(...).filter(...).collect()`` on an
    enabled session hits the index with NO explicit hs.apply() — the
    DataFrame-API half of the reference's ApplyHyperspace coverage."""
    from hyperspace_spark.session import _df_impl_class

    DataFrame = _df_impl_class()
    pristine_collect = DataFrame.collect
    hs, src = indexed
    q = spark.read.parquet(src).filter("g = 13").select("k", "v")
    baseline = sorted(map(tuple, q.collect()))  # before enable: raw scan

    hs.enable()
    try:
        q2 = spark.read.parquet(src).filter("g = 13").select("k", "v")
        with apply_events() as used:
            assert sorted(map(tuple, q2.collect())) == baseline
        # The route planned this frame and chose the index.
        assert ["sess_idx"] in used, "collect() did not route through the planner"
        # count/toPandas route too
        assert q2.count() == len(baseline)
        assert len(q2.toPandas()) == len(baseline)
    finally:
        hs.disable()
    # last enabled session disabled -> pristine class restored
    assert DataFrame.collect is pristine_collect
    with apply_events() as used:
        spark.read.parquet(src).filter("g = 13").select("k", "v").collect()
    assert not used, "routing survived disable()"


def test_enable_dataframe_api_optout(indexed, spark):
    hs, src = indexed
    hs.enable(dataframe_api=False)
    try:
        with apply_events() as used:
            spark.read.parquet(src).filter("g = 13").select("k", "v").collect()
        assert not used, "dataframe_api=False must not route actions"
    finally:
        hs.disable()


def test_enable_dataframe_api_optout_after_optin(indexed, spark):
    """r7: enable(dataframe_api=False) AFTER enable(dataframe_api=True)
    on the same session must stop action routing — 'latest wins' applies
    to the flag, not just the instance."""
    from hyperspace_spark import session

    hs, src = indexed
    hs.enable(dataframe_api=True)
    hs.enable(dataframe_api=False)
    try:
        assert spark not in session._ROUTES
        with apply_events() as used:
            spark.read.parquet(src).filter("g = 13").select("k", "v").collect()
        assert not used, "explicit opt-out must unroute actions"
    finally:
        hs.disable()


def test_rdd_routes_through_planner(indexed, spark):
    """r10 (was warn-only since r7): .rdd on an enabled session builds
    the RDD from the REWRITTEN frame — the reference's everything-is-
    rewritten coverage (ApplyHyperspace via Catalyst, package.scala:
    40-93) now matched on the last unrouted surface.  The routed RDD is
    cached per frame (`df.rdd is df.rdd`), results are row-exact, the
    lineage shows the index scan, and disable() restores the stock
    descriptor.  .writeStream routing (r9) is unchanged."""
    from hyperspace_spark.session import (
        _df_impl_class,
        _stream_writer_class,
        _PATCHED,
    )

    DataFrame = _df_impl_class()
    pristine_rdd = DataFrame.__dict__.get("rdd")
    Writer = _stream_writer_class()
    pristine_start = Writer.__dict__.get("start")
    hs, src = indexed
    hs.enable()
    try:
        df = spark.read.parquet(src).filter("g = 13").select("k", "v")
        r1 = df.rdd
        assert r1 is df.rdd, "routed RDD must be cached per frame"
        # the routed path was taken (cache marker) and the rewrite this
        # frame routes through reads the INDEX data, not the source
        assert "_hs_routed_rdd" in df.__dict__, "stock descriptor served .rdd"
        rewritten = hs.apply(df)
        assert rewritten is not df
        assert rewritten.inputFiles() and all(
            "sess_idx" in f for f in rewritten.inputFiles()
        )
        # row-exact vs the un-routed computation
        got = sorted(tuple(r) for r in r1.collect())
        df2 = spark.read.parquet(src).filter("g = 13").select("k", "v")
        df2._hs_no_reroute = True
        want = sorted(tuple(r) for r in df2.rdd.collect())
        assert got == want and got
        # a frame the planner declines: stock cached_property behavior
        plain = spark.range(5)
        assert plain.rdd is plain.rdd
        # writeStream routing installed while enabled
        stream = spark.readStream.format("rate").load()
        _ = stream.writeStream
        assert _PATCHED, "stream sink routing not installed"
        assert Writer.__dict__.get("start") is not pristine_start
    finally:
        hs.disable()
    # pristine descriptors restored (cached_property for rdd on Spark 4;
    # DataStreamWriter.start back to the stock implementation)
    assert DataFrame.__dict__.get("rdd") is pristine_rdd
    assert Writer.__dict__.get("start") is pristine_start
    # disabled: .rdd over the source again
    df3 = spark.read.parquet(src).filter("g = 13").select("k", "v")
    assert sorted(tuple(r) for r in df3.rdd.collect()) == want


def test_enable_routes_dataframe_write(indexed, spark, tmp_path):
    """r6: df.write on an enabled session builds the writer over the
    rewritten frame — ETL jobs get index acceleration without apply()."""
    hs, src = indexed
    out = str(tmp_path / "routed_write_out")
    q = spark.read.parquet(src).filter("g = 13").select("k", "v")
    baseline = sorted(map(tuple, q.collect()))
    hs.enable()
    try:
        with apply_events() as used:
            spark.read.parquet(src).filter("g = 13").select("k", "v").write.parquet(out)
        assert ["sess_idx"] in used, "write did not route through the planner"
    finally:
        hs.disable()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == baseline


def test_lifecycle_ops_safe_while_enabled(indexed, spark, tmp_path):
    """Engine-internal frames (lineage projections with
    input_file_name(), index-data writes) must NOT route back through
    the planner while a session is enabled — _transact holds the guard.
    A create_index under enable() must produce a working, correct
    second index."""
    from pyspark.sql import functions as F

    hs, src = indexed
    src2 = str(tmp_path / "src2")
    spark.range(0, 500).select(
        F.col("id").alias("k2"), (F.col("id") % 11).alias("g2"), (F.col("id") * 3.0).alias("v2")
    ).repartition(2).write.parquet(src2)
    hs.enable()
    try:
        hs.create_index(
            spark.read.parquet(src2),
            CoveringIndexConfig("sess_idx2", ["g2"], ["k2", "v2"], num_buckets=2),
        )
        q = spark.read.parquet(src2).filter("g2 = 3").select("k2", "v2")
        fast, used = hs._apply_with_info(q)
        assert used == ["sess_idx2"], hs.why_not(q)
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, q.collect()))
    finally:
        hs.delete_index("sess_idx2")
        hs.vacuum_index("sess_idx2")
        hs.disable()


def test_newsession_child_inherits_enable(indexed, spark):
    """r6 (closes the r5-documented hole): ``spark.newSession()`` on an
    enabled session returns a child that is itself enabled — same system
    path, own Hyperspace instance."""
    from hyperspace_spark import session

    hs, src = indexed
    hs.enable()
    child = None
    try:
        child = spark.newSession()
        assert child is not spark
        assert is_hyperspace_enabled(child)
        assert child in session._ROUTES
        # the child's routing instance targets the same index store
        assert session._ROUTES[child]._system_path == hs._system_path
        # and its sql path plans against the parent's indexes
        plan = (
            child.read.parquet(src).filter("g = 13").select("k", "v")
        )
        fast, used = session._ROUTES[child]._apply_with_info(plan)
        assert used == ["sess_idx"]
    finally:
        if child is not None:
            disable_hyperspace(child)
        hs.disable()
    assert "newSession" not in spark.__dict__


def test_disable_restores_third_party_sql_wrapper(indexed, spark):
    """If another library instance-patched ``spark.sql`` BEFORE enable(),
    disable() must reinstall that wrapper, not pop down to the bare class
    method (which would silently uninstall the third party's hook)."""
    hs, src = indexed
    orig_cls_method = spark.sql
    calls = []

    def audit_sql(query, *a, **kw):
        calls.append(query)
        return orig_cls_method(query, *a, **kw)

    spark.sql = audit_sql
    try:
        hs.enable()
        assert hs.is_enabled()
        spark.sql("SELECT 1").collect()
        assert calls, "enable() must route through the saved wrapper"
        hs.disable()
        assert not hs.is_enabled()
        assert spark.__dict__.get("sql") is audit_sql, (
            "disable() must restore the pre-enable instance wrapper"
        )
        n = len(calls)
        spark.sql("SELECT 2").collect()
        assert len(calls) == n + 1
    finally:
        spark.__dict__.pop("sql", None)
        spark._hs_original_sql = None


def test_enable_routes_metadata_fold(spark, tmp_path):
    """r8 integration: a plain DataFrame action on an ENABLED session
    (no explicit hs.apply) rides the metadata-only aggregation rewrite,
    and whyNot explains ineligible indexes with the r8 reason text."""
    from hyperspace_spark import (
        DataSkippingIndexConfig,
        MinMaxSketch,
        RowCountSketch,
        SumSketch,
    )

    src = str(tmp_path / "meta_src")
    spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    ).repartition(4).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "meta_idx"))
    hs.create_index(
        spark.read.parquet(src),
        DataSkippingIndexConfig(
            "sess_meta", [RowCountSketch(), SumSketch(["v"]), MinMaxSketch(["k"])]
        ),
    )
    hs.enable()
    try:
        row = (
            spark.read.parquet(src)
            .agg(F.count("*").alias("c"), F.round(F.sum("v"), 2).alias("s"))
            .collect()[0]
        )
        assert row["c"] == 5000 and abs(row["s"] - 1.5 * sum(range(5000))) < 1e-6
        # The routed action applied the index (telemetry breadcrumb).
        q = spark.read.parquet(src).agg(F.count("*").alias("c"))
        _, used = hs._apply_with_info(q)
        assert used == ["sess_meta"]
        # whyNot names the r8 reason when the sketch is missing.
        q2 = spark.read.parquet(src).agg(F.sum("k").alias("s"))  # no Sum(k)
        why = hs.why_not(q2)
        assert "sess_meta" in why
    finally:
        hs.disable()


def test_internal_frames_are_not_planned_as_user_queries(spark, tmp_path, monkeypatch):
    """One guard covers every engine entry point: the data-skipping
    pruning's own sketch-row frame under a ``spark.sql``-routed apply and
    recommend()'s sampling probes are executed as built, so each user
    query is planned exactly once."""
    from hyperspace_spark import DataSkippingIndexConfig, MinMaxSketch

    src = str(tmp_path / "guard_src")
    spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("g"), (F.col("id") * 2.5).alias("v")
    ).repartitionByRange(4, "k").write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "guard_idx"))
    hs.create_index(
        spark.read.parquet(src),
        CoveringIndexConfig("guard_ci", ["g"], ["k", "v"], num_buckets=4),
    )
    hs.create_index(spark.read.parquet(src), DataSkippingIndexConfig("guard_ds", [MinMaxSketch(["k"])]))
    calls = []
    orig = Hyperspace._apply_with_info

    def counting(self, df, *args, **kwargs):
        calls.append(df)
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(Hyperspace, "_apply_with_info", counting)
    spark.read.parquet(src).createOrReplaceTempView("guard_t")
    want = sorted((k, k * 2.5) for k in range(100, 121))
    spark.conf.set("spark.hyperspace.apply.cacheTtlSeconds", "0")
    hs.enable()
    try:
        with apply_events() as used:
            rows = spark.sql("SELECT k, v FROM guard_t WHERE k BETWEEN 100 AND 120").collect()
        assert sorted(map(tuple, rows)) == want
        assert used == [["guard_ds"]]
        assert len(calls) == 1, [c._jdf.queryExecution().analyzed().toString() for c in calls]

        # equality probes on k and v: recommend() samples each column's
        # cardinality to pick a ValueList or Bloom sketch
        calls.clear()
        hs.recommend(spark.read.parquet(src).filter("k = 105 AND v = 262.5").select("k", "v"))
        assert calls == [], "recommend()'s probes were planned as user queries"

        calls.clear()
        df = spark.read.parquet(src).filter("k BETWEEN 100 AND 120").select("k", "v")
        assert sorted(map(tuple, df.collect())) == want
        assert len(calls) == 1
    finally:
        hs.disable()
        spark.conf.unset("spark.hyperspace.apply.cacheTtlSeconds")


def test_hs_sql_plans_once(indexed, spark, monkeypatch):
    """``hs.sql`` plans its query exactly once, on an enabled session
    (where ``spark.sql`` is itself routed) and on a disabled one."""
    hs, src = indexed
    calls = []
    orig = Hyperspace._apply_with_info

    def counting(self, df, *args, **kwargs):
        calls.append(df)
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(Hyperspace, "_apply_with_info", counting)
    spark.read.parquet(src).createOrReplaceTempView("sql_once_t")
    q = "SELECT k, v FROM sql_once_t WHERE g = 5"
    want = sorted((k, k * 2.5) for k in range(5, 2000, 97))
    spark.conf.set("spark.hyperspace.apply.cacheTtlSeconds", "0")
    try:
        for enabled in (True, False):
            if enabled:
                hs.enable()
            calls.clear()
            with apply_events() as used:
                rows = hs.sql(q).collect()
            hs.disable()
            assert sorted(map(tuple, rows)) == want
            assert used == [["sess_idx"]], (enabled, used)
            assert len(calls) == 1, (enabled, len(calls))
    finally:
        spark.conf.unset("spark.hyperspace.apply.cacheTtlSeconds")


def test_disable_restores_every_patched_attribute(indexed, spark):
    """enable() then disable() puts back every class attribute the
    routing replaced and un-shadows the session's ``sql``/``newSession``."""
    from hyperspace_spark.session import _PATCHED, _df_impl_class, _stream_writer_class

    targets = [
        (_df_impl_class(), ("collect", "count", "show", "toPandas", "write", "rdd")),
        (_stream_writer_class(), ("option", "options", "start")),
    ]
    pristine = {(cls, n): cls.__dict__[n] for cls, names in targets for n in names}
    hs, src = indexed
    hs.enable()
    try:
        assert set(_PATCHED) == set(pristine)
        assert all(cls.__dict__[n] is not orig for (cls, n), orig in pristine.items())
    finally:
        hs.disable()
    assert not _PATCHED
    for (cls, n), orig in pristine.items():
        assert cls.__dict__[n] is orig, f"{cls.__name__}.{n} not restored"
    assert "sql" not in spark.__dict__ and "newSession" not in spark.__dict__

"""Covering index end-to-end: create -> accelerate -> result equality.

The reference's dominant E2E pattern: plan-shape assertion + result
equality with/without index (E2EHyperspaceRulesTest.scala:107,214,524).
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import CoveringIndexConfig, Hyperspace

from tests.conftest import rows_equal, table


@pytest.fixture(scope="module")
def hs(spark, tmp_path_factory):
    sys_path = str(tmp_path_factory.mktemp("hsidx"))
    hs = Hyperspace(spark, system_path=sys_path)
    orders = table(spark, "orders")
    hs.create_index(
        orders,
        CoveringIndexConfig("o_cust_idx", ["o_custkey"], ["o_orderkey", "o_totalprice"]),
    )
    return hs


def accelerated_plan_uses_index(hs, df, index_name):
    out, used = hs._apply_with_info(df)
    return index_name in used, out


def test_filter_rewrite_result_equality(spark, hs):
    df = (
        table(spark, "orders")
        .filter(F.col("o_custkey") == 421)
        .select("o_orderkey", "o_totalprice")
    )
    used, fast = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert used, hs.why_not(df)
    # The rewritten plan must scan index data, not source data.
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "o_cust_idx" in plan
    assert "orders.parquet" not in plan
    assert rows_equal(df, fast)


def test_range_filter_rewrite(spark, hs):
    df = (
        table(spark, "orders")
        .filter("o_custkey BETWEEN 100 AND 200")
        .select("o_custkey", "o_orderkey")
    )
    used, fast = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert used, hs.why_not(df)
    assert rows_equal(df, fast)


def test_aggregate_above_filter_rewrite(spark, hs):
    df = (
        table(spark, "orders")
        .filter("o_custkey = 421")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total"), F.count("*").alias("cnt"))
    )
    used, fast = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert used, hs.why_not(df)
    assert rows_equal(df, fast)


def test_no_rewrite_when_columns_not_covered(spark, hs):
    # o_orderdate is not in the index -> must not rewrite.
    df = table(spark, "orders").filter("o_custkey = 421").select("o_orderkey", "o_orderdate")
    used, fast = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert not used
    assert fast is df


def test_no_rewrite_when_first_indexed_col_absent(spark, hs):
    df = table(spark, "orders").filter("o_totalprice > 100").select("o_custkey", "o_orderkey")
    used, _ = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert not used
    report = hs.why_not(df)
    assert "NO_FIRST_INDEXED_COL_COND" in report


def test_apply_is_safe_on_unsupported_plans(spark, hs):
    df = spark.range(5)
    assert hs.apply(df) is df


def test_indexes_listing(spark, hs):
    rows = hs.indexes().collect()
    assert any(r.name == "o_cust_idx" and r.state == "ACTIVE" for r in rows)


def test_sql_entrypoint(spark, hs):
    table(spark, "orders").createOrReplaceTempView("v_orders")
    fast = hs.sql("SELECT o_orderkey, o_totalprice FROM v_orders WHERE o_custkey = 421")
    df = spark.sql("SELECT o_orderkey, o_totalprice FROM v_orders WHERE o_custkey = 421")
    assert rows_equal(df, fast)


def test_filter_rewrite_with_bucket_spec(spark, hs):
    """filterRule.useBucketSpec=true (the default) prunes index bucket
    FILES driver-side for equality predicates (reference analogue:
    FilterIndexRule useBucketSpec, IndexConstants.scala:54-57 — realized
    here via planner/mmh3.py instead of a bucketed-table scan, so no
    autoBucketedScan conf sensitivity)."""
    df = (
        table(spark, "orders")
        .filter(F.col("o_custkey") == 421)
        .select("o_orderkey", "o_totalprice")
    )
    used, fast = accelerated_plan_uses_index(hs, df, "o_cust_idx")
    assert used, hs.why_not(df)
    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "o_cust_idx")
    read = set(fast.inputFiles())
    if len(entry.content_files) > 1:
        assert 0 < len(read) < len(entry.content_files), (
            len(read),
            len(entry.content_files),
        )
    assert rows_equal(df, fast)

    # Two 8-bucket indexes: a point probe on o_orderkey, and an OR of
    # two point probes that FilterOrIndexRule serves as a union of
    # bucket-pruned branch reads, one per index.
    o = table(spark, "orders")
    for name, key, inc in (
        ("o_cust8", "o_custkey", "o_orderkey"),
        ("o_key8", "o_orderkey", "o_custkey"),
    ):
        hs.create_index(o, CoveringIndexConfig(name, [key], [inc, "o_totalprice"], num_buckets=8))

    def files_of(name):
        return len(next(e for e in hs._active_entries(hs.conf()) if e.name == name).content_files)

    try:
        point = o.filter(F.col("o_orderkey") == 2).select("o_custkey", "o_totalprice")
        q_or = o.filter((F.col("o_custkey") == 85) | (F.col("o_orderkey") == 2)).select(
            "o_orderkey", "o_totalprice"
        )
        fast_p, used_p = hs._apply_with_info(point)
        assert used_p == ["o_key8"], hs.why_not(point)
        assert 0 < len(set(fast_p.inputFiles())) < files_of("o_key8")
        fast_or, used_or = hs._apply_with_info(q_or)
        assert used_or == ["o_cust8", "o_key8"], hs.why_not(q_or)
        assert rows_equal(q_or, fast_or) and fast_or.count() > 0

        # With pruning disabled every point lookup still rewrites but
        # reads every file of its index, and no bucket-pruned branch
        # union serves the OR: one index serves it with a full read.
        spark.conf.set("spark.hyperspace.index.filterRule.useBucketSpec", "false")
        try:
            for q, idx in ((df, "o_cust_idx"), (point, "o_key8")):
                fast2, used2 = hs._apply_with_info(q)
                assert used2 == [idx], hs.why_not(q)
                assert len(set(fast2.inputFiles())) == files_of(idx)
                assert rows_equal(q, fast2)
            fast_or2, used_or2 = hs._apply_with_info(q_or)
            assert len(used_or2) == 1, hs.why_not(q_or)
            assert len(set(fast_or2.inputFiles())) == files_of(used_or2[0])
            assert rows_equal(q_or, fast_or2)
        finally:
            spark.conf.unset("spark.hyperspace.index.filterRule.useBucketSpec")
    finally:
        for name in ("o_cust8", "o_key8"):
            hs.delete_index(name)
            hs.vacuum_index(name)


def test_index_applies_inside_union(spark, hs):
    """The optimizer recurses into Union branches: each side's
    Project<-Filter<-Scan pattern rewrites independently."""
    o = table(spark, "orders")
    a = o.filter(F.col("o_custkey") == 421).select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_custkey") == 37).select("o_orderkey", "o_totalprice")
    q = a.union(b)
    fast, used = hs._apply_with_info(q)
    assert used == ["o_cust_idx", "o_cust_idx"], hs.why_not(q)
    assert rows_equal(q, fast)


def test_explain_display_modes(spark, hs):
    o = table(spark, "orders")
    q = o.filter(F.col("o_custkey") == 14).select("o_orderkey", "o_totalprice")
    plain = hs.explain(q)
    assert "Plan with Hyperspace indexes" in plain and "<pre>" not in plain
    html = hs.explain(q, mode="html")
    assert html.startswith("<pre>") and html.endswith("</pre>") and "<b>" in html
    console = hs.explain(q, mode="console")
    assert "\x1b[1m" in console
    import pytest as _pytest

    from hyperspace_spark.hyperspace import HyperspaceException

    with _pytest.raises(HyperspaceException):
        hs.explain(q, mode="latex")


def test_why_not_extended_lists_index_inventory(spark, hs):
    o = table(spark, "orders")
    q = o.filter(F.col("o_custkey") == 14).select("o_orderkey", "o_totalprice", "o_orderdate")
    terse = hs.why_not(q)
    ext = hs.why_not(q, extended=True)
    assert "Known indexes:" in ext and "Known indexes:" not in terse
    assert "state=ACTIVE" in ext


def test_why_not_reports_opaque_subtrees(spark, hs):
    """r7: a plan subtree the IR cannot model (here a NON-equi
    self-comparison on a shared column name — `a.key < b.key` has no
    unambiguous name-based replay) must show up in whyNot — 'my index
    did not apply inside the subquery' should never be a silent
    mystery.  The IN-subquery self-join that used to exercise this path
    now parses fully via exprId key attribution (see
    test_in_self_subquery_fully_modeled below)."""
    o = table(spark, "orders")
    o.createOrReplaceTempView("ce_opq")
    q = spark.sql(
        "SELECT count(*) AS n FROM ce_opq a JOIN ce_opq b "
        "ON a.o_custkey < b.o_custkey AND a.o_orderkey = b.o_orderkey"
    )
    report = hs.why_not(q)
    assert "not modeled by the Python planner" in report, report
    # ordinary queries carry no such note
    plain = hs.why_not(o.filter(F.col("o_custkey") == 14).select("o_orderkey"))
    assert "not modeled" not in plain


def test_in_self_subquery_fully_modeled(spark, hs):
    """r7 follow-up: the IN-subquery SELF-join (shared o_custkey name on
    both semi-join sides) used to degrade to an opaque subtree; exprId
    key attribution now models it fully — whyNot gives a real per-index
    reason instead of the unmodeled-subtree note, and results stay
    equal under apply()."""
    o = table(spark, "orders")
    o.createOrReplaceTempView("ce_opq2")
    q = spark.sql(
        "SELECT o_orderkey FROM ce_opq2 "
        "WHERE o_custkey IN (SELECT o_custkey FROM ce_opq2 WHERE o_totalprice > 100000)"
    )
    report = hs.why_not(q)
    assert "not modeled" not in report, report
    fast, _ = hs._apply_with_info(q)
    assert rows_equal(q, fast)


def test_in_subquery_accelerates_scalar_subquery_safe(spark, hs, tmp_path):
    """Catalyst lowers IN-subqueries to semi-joins before our planner
    sees the plan, so the outer scan still gets its index; scalar
    subqueries are not replayable (their SQL rendering is opaque) and
    must fall back to the original plan — never wrong results."""
    o = table(spark, "orders")
    li = table(spark, "lineitem")
    o.createOrReplaceTempView("ce_ov")
    li.createOrReplaceTempView("ce_lv")
    q_in = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM ce_ov WHERE o_custkey = 14 "
        "AND o_orderkey IN (SELECT l_orderkey FROM ce_lv WHERE l_quantity > 45)"
    )
    fast, used = hs._apply_with_info(q_in)
    assert "o_cust_idx" in used, hs.why_not(q_in)
    assert rows_equal(q_in, fast)
    q_scalar = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM ce_ov WHERE o_custkey = 14 "
        "AND o_totalprice > (SELECT avg(o_totalprice) FROM ce_ov)"
    )
    fast2, used2 = hs._apply_with_info(q_scalar)
    assert used2 == []
    assert rows_equal(q_scalar, fast2)

"""Partial (filtered) covering indexes — `CoveringIndexConfig(...,
where=...)` — and the conservative implication proof that gates them
(planner/implication.py).  Extension beyond the reference (Hyperspace
indexes are always whole-table); semantics follow PostgreSQL partial
indexes: the index holds only predicate-satisfying rows and serves a
query only when the query filter provably implies the predicate.
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import CoveringIndexConfig, Hyperspace

from tests.conftest import rows_equal, table


# ---------------------------------------------------------------------------
# implication unit tests (pure python)
# ---------------------------------------------------------------------------
def _cmp(col, op, lit_sql, dtype="bigint", lit_dtype="int"):
    from hyperspace_spark.planner.expr import Attr, Cmp, Lit

    a = Attr(sql=col, references=frozenset([col]), name=col, dtype=dtype)
    l = Lit(sql=lit_sql, dtype=lit_dtype)
    return Cmp(sql=f"({col} {op} {lit_sql})", references=frozenset([col]), op=op, left=a, right=l)


def _and(*es):
    from hyperspace_spark.planner.expr import BoolOp

    refs = frozenset().union(*[e.references for e in es])
    return BoolOp(sql=" AND ".join(e.sql for e in es), references=refs, op="and", children=tuple(es))


def _or(*es):
    from hyperspace_spark.planner.expr import BoolOp

    refs = frozenset().union(*[e.references for e in es])
    return BoolOp(sql=" OR ".join(e.sql for e in es), references=refs, op="or", children=tuple(es))


def _in(col, lit_sqls, dtype="bigint"):
    from hyperspace_spark.planner.expr import Attr, InExpr, Lit

    a = Attr(sql=col, references=frozenset([col]), name=col, dtype=dtype)
    vals = tuple(Lit(sql=s, dtype="int") for s in lit_sqls)
    return InExpr(sql=f"{col} IN ({', '.join(lit_sqls)})", references=frozenset([col]), child=a, values=vals)


def test_implication_ranges():
    from hyperspace_spark.planner.implication import implies

    # query x > 10 implies index x > 5
    assert implies(_cmp("x", ">", "10"), _cmp("x", ">", "5"))
    assert not implies(_cmp("x", ">", "5"), _cmp("x", ">", "10"))
    # boundary: x > 5 implies x >= 5; x >= 5 does NOT imply x > 5
    assert implies(_cmp("x", ">", "5"), _cmp("x", ">=", "5"))
    assert not implies(_cmp("x", ">=", "5"), _cmp("x", ">", "5"))
    # equalities
    assert implies(_cmp("x", "=", "7"), _cmp("x", ">", "5"))
    assert implies(_cmp("x", "=", "7"), _cmp("x", "<=", "7"))
    assert not implies(_cmp("x", "=", "4"), _cmp("x", ">", "5"))
    # a range never pins an equality
    assert not implies(_cmp("x", ">", "5"), _cmp("x", "=", "7"))
    # upper bounds
    assert implies(_cmp("x", "<", "3"), _cmp("x", "<", "9"))
    assert implies(_cmp("x", "<", "9"), _cmp("x", "<=", "9"))
    assert not implies(_cmp("x", "<=", "9"), _cmp("x", "<", "9"))
    # different columns never imply
    assert not implies(_cmp("x", ">", "10"), _cmp("y", ">", "5"))


def test_implication_in_subset_and_conjunctions():
    from hyperspace_spark.planner.implication import implies

    assert implies(_in("x", ["1", "2"]), _in("x", ["1", "2", "3"]))
    assert not implies(_in("x", ["1", "4"]), _in("x", ["1", "2", "3"]))
    assert implies(_cmp("x", "=", "2"), _in("x", ["1", "2", "3"]))
    assert implies(_in("x", ["6", "8"]), _cmp("x", ">", "5"))
    assert not implies(_in("x", ["4", "8"]), _cmp("x", ">", "5"))
    # conjunction on the query side: any conjunct may prove each index conjunct
    q = _and(_cmp("x", "=", "7"), _cmp("y", ">", "100"))
    assert implies(q, _cmp("x", ">", "5"))
    assert implies(q, _and(_cmp("x", ">", "5"), _cmp("y", ">", "50")))
    assert not implies(q, _and(_cmp("x", ">", "5"), _cmp("z", ">", "0")))
    # disjunction on the query side: EVERY branch must imply
    assert implies(_or(_cmp("x", "=", "7"), _cmp("x", "=", "9")), _cmp("x", ">", "5"))
    assert not implies(_or(_cmp("x", "=", "7"), _cmp("x", "=", "3")), _cmp("x", ">", "5"))


def test_implication_exact_sql_and_unknown():
    from hyperspace_spark.planner.expr import Unknown
    from hyperspace_spark.planner.implication import implies

    u = Unknown(sql="some_udf(x) = 3")
    assert implies(u, Unknown(sql="some_udf(x) = 3"))  # exact text
    assert not implies(u, Unknown(sql="some_udf(x) = 4"))
    # string literals compare as same-type values
    from hyperspace_spark.planner.expr import Lit

    assert implies(_cmp("s", "=", "'b'", "string", "string"), _cmp("s", ">=", "'a'", "string", "string"))
    assert not implies(_cmp("s", "=", "'a'", "string", "string"), _cmp("s", ">", "'a'", "string", "string"))


def _not(e):
    from hyperspace_spark.planner.expr import NotExpr

    return NotExpr(sql=f"(NOT {e.sql})", references=e.references, child=e)


def _null_test(col, is_null=True, dtype="bigint"):
    from hyperspace_spark.planner.expr import Attr, NullTest

    a = Attr(sql=col, references=frozenset([col]), name=col, dtype=dtype)
    word = "IS NULL" if is_null else "IS NOT NULL"
    return NullTest(sql=f"({col} {word})", references=frozenset([col]), child=a, is_null=is_null)


def test_implication_not_support():
    """r11: NOT handling — range negation, x <> v reasoning, and the
    IS NULL / IS NOT NULL interplay (all 3VL-sound: a WHERE NOT(x=5)
    row always has x non-null)."""
    from hyperspace_spark.planner.implication import implies

    # NOT over ranges normalizes: NOT(x < 5) == x >= 5, both directions
    assert implies(_not(_cmp("x", "<", "5")), _cmp("x", ">=", "5"))
    assert implies(_cmp("x", ">=", "5"), _not(_cmp("x", "<", "5")))
    assert not implies(_not(_cmp("x", "<=", "5")), _cmp("x", ">", "6"))
    # x <> 5 implies x IS NOT NULL (the verdict's e2e shape)
    assert implies(_not(_cmp("x", "=", "5")), _null_test("x", is_null=False))
    # pinned/range queries imply x <> 5 when they exclude 5
    assert implies(_cmp("x", "=", "3"), _not(_cmp("x", "=", "5")))
    assert not implies(_cmp("x", "=", "5"), _not(_cmp("x", "=", "5")))
    assert implies(_cmp("x", "<", "5"), _not(_cmp("x", "=", "5")))
    assert not implies(_cmp("x", "<=", "5"), _not(_cmp("x", "=", "5")))
    assert implies(_in("x", ["1", "2"]), _not(_in("x", ["3", "4"])))
    assert not implies(_in("x", ["1", "3"]), _not(_in("x", ["3", "4"])))
    # NOT-IN superset reasoning
    assert implies(_not(_in("x", ["1", "2", "3"])), _not(_in("x", ["1", "2"])))
    assert not implies(_not(_in("x", ["1"])), _not(_in("x", ["1", "2"])))
    # x IS NULL does NOT imply x <> 5 (NOT(x=5) is never TRUE on null x)
    assert not implies(_null_test("x", is_null=True), _not(_cmp("x", "=", "5")))
    # double negation and De Morgan
    assert implies(_not(_not(_cmp("x", ">", "5"))), _cmp("x", ">", "5"))
    assert implies(
        _not(_or(_cmp("x", "=", "1"), _cmp("x", "=", "2"))),
        _not(_cmp("x", "=", "1")),
    )
    # NOT(IS NULL) == IS NOT NULL
    assert implies(_not(_null_test("x", is_null=True)), _null_test("x", is_null=False))


def test_expr_json_roundtrip():
    from hyperspace_spark.planner.implication import expr_from_json, expr_to_json, implies

    e = _and(_cmp("x", ">", "5"), _in("y", ["1", "2"]))
    rt = expr_from_json(expr_to_json(e))
    assert rt == e
    assert implies(_and(_cmp("x", "=", "9"), _cmp("y", "=", "2")), rt)


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hs_partial"))
    src = f"{root}/orders"
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    hs = Hyperspace(spark, system_path=f"{root}/idx")
    hs.create_index(
        o,
        CoveringIndexConfig(
            "p_urgent",
            ["o_custkey"],
            ["o_orderkey", "o_totalprice", "o_orderpriority"],
            num_buckets=8,
            where="o_orderpriority = '1-URGENT'",
        ),
    )
    return hs, src


def test_partial_index_smaller_and_predicate_stored(spark, env):
    hs, src = env
    e = hs._entries()[0] if hasattr(hs, "_entries") else None
    row = [r for r in hs.indexes().collect() if r["name"] == "p_urgent"]
    assert row, "index listed"
    mgr = hs._log_mgr("p_urgent", hs.conf())
    entry = mgr.get_latest_stable_log()
    assert entry.derived_properties.get("filterPredicate")
    assert entry.derived_properties.get("filterPredicateExpr")
    # the index holds ONLY predicate rows
    n_idx = spark.read.parquet(entry.index_data_dirs[0]).count()
    n_pred = spark.read.parquet(src).filter("o_orderpriority = '1-URGENT'").count()
    assert n_idx == n_pred


def test_partial_served_when_implied(spark, env):
    hs, src = env
    o = spark.read.parquet(src)
    df = o.filter("o_custkey = 42 AND o_orderpriority = '1-URGENT'").select(
        "o_orderkey", "o_totalprice"
    )
    out, used = hs._apply_with_info(df)
    assert used == ["p_urgent"], hs.why_not(df)
    assert rows_equal(df, out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "p_urgent" in plan and "orders/part" not in plan


def test_partial_declined_when_not_implied(spark, env):
    hs, src = env
    o = spark.read.parquet(src)
    df = o.filter("o_custkey = 42").select("o_orderkey", "o_totalprice")
    out, used = hs._apply_with_info(df)
    assert used == []  # no other index exists; partial must NOT serve
    assert rows_equal(df, out)
    why = hs.why_not(df)
    assert "PREDICATE_NOT_IMPLIED" in why


def test_partial_declined_for_agg_and_join(spark, env):
    hs, src = env
    o = spark.read.parquet(src)
    # group-by on the bucket key: Agg rule must skip the partial index
    agg = o.filter("o_orderpriority = '1-URGENT'").groupBy("o_custkey").agg(
        F.count("*").alias("cnt")
    )
    out, used = hs._apply_with_info(agg)
    # FilterIndexRule may still rewrite the inner Filter<-Scan (implied),
    # which is sound; the unsound bucketed-agg path must not fire alone.
    assert rows_equal(agg, out)
    # self-join keyed on o_custkey: join rule must skip the partial index
    a = o.filter("o_orderpriority = '1-URGENT'").select("o_custkey", "o_totalprice")
    j = a.join(a.groupBy("o_custkey").count(), "o_custkey")
    out2, used2 = hs._apply_with_info(j)
    assert rows_equal(j, out2)


def test_partial_range_implication_e2e(spark, env):
    hs, src = env
    o = spark.read.parquet(src)
    hs.create_index(
        o,
        CoveringIndexConfig(
            "p_big",
            ["o_custkey"],
            ["o_orderkey", "o_totalprice"],
            num_buckets=8,
            where="o_totalprice > 100000.0",
        ),
    )
    df = o.filter("o_custkey = 42 AND o_totalprice > 150000.0").select(
        "o_orderkey", "o_totalprice"
    )
    out, used = hs._apply_with_info(df)
    assert "p_big" in used, hs.why_not(df)
    assert rows_equal(df, out)
    # weaker query bound does NOT imply
    df2 = o.filter("o_custkey = 42 AND o_totalprice > 50000.0").select(
        "o_orderkey", "o_totalprice"
    )
    out2, used2 = hs._apply_with_info(df2)
    assert "p_big" not in used2
    assert rows_equal(df2, out2)


def test_partial_not_predicate_e2e(spark, env):
    """A `x <> lit` query rides a `where="x IS NOT NULL"` partial index
    (the r10 verdict's item-8 shape): WHERE NOT(x = lit) keeps only
    non-null x, so the implication is provable and the index serves."""
    hs, src = env
    o = spark.read.parquet(src)
    hs.create_index(
        o,
        CoveringIndexConfig(
            "p_nn",
            ["o_custkey"],
            ["o_orderkey", "o_orderpriority"],
            num_buckets=8,
            where="o_orderpriority IS NOT NULL",
        ),
    )
    df = o.filter("o_custkey = 42 AND o_orderpriority <> '1-URGENT'").select(
        "o_orderkey", "o_orderpriority"
    )
    out, used = hs._apply_with_info(df)
    assert "p_nn" in used, hs.why_not(df)
    assert rows_equal(df, out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "p_nn" in plan and "orders/part" not in plan


def test_partial_incremental_refresh_appends_only_predicate_rows(spark, env, tmp_path):
    hs, src = env
    import glob
    import shutil

    root = str(tmp_path)
    src2 = f"{root}/orders_inc"
    shutil.copytree(src, src2)
    o2 = spark.read.parquet(src2)
    hs.create_index(
        o2,
        CoveringIndexConfig(
            "p_inc",
            ["o_custkey"],
            ["o_orderkey", "o_totalprice", "o_orderpriority"],
            num_buckets=8,
            where="o_orderpriority = '1-URGENT'",
        ),
    )
    mgr = hs._log_mgr("p_inc", hs.conf())
    before = spark.read.parquet(mgr.get_latest_stable_log().index_data_dirs[0]).count()
    # append a copy of one source file, refresh incrementally
    one = sorted(glob.glob(f"{src}/part-*.parquet"))[0]
    shutil.copy(one, f"{src2}/appended_0.parquet")
    hs.refresh_index("p_inc", "incremental")
    entry = mgr.get_latest_stable_log()
    after = spark.read.parquet(entry.index_data_dirs[0]).count()
    added = spark.read.parquet(one).filter("o_orderpriority = '1-URGENT'").count()
    assert after == before + added  # only predicate rows joined the index
    # and the refreshed index still answers exactly
    o2b = spark.read.parquet(src2)
    df = o2b.filter("o_custkey = 42 AND o_orderpriority = '1-URGENT'").select(
        "o_orderkey", "o_totalprice"
    )
    out, used = hs._apply_with_info(df)
    assert "p_inc" in used, hs.why_not(df)
    assert rows_equal(df, out)


def test_partial_zorder_index(spark, tmp_path):
    """Partial Z-ORDER index: same where semantics through the z-cluster
    build, the inherited implication gate, and incremental append."""
    import glob
    import shutil

    from hyperspace_spark import Hyperspace, ZOrderCoveringIndexConfig

    root = str(tmp_path)
    src = f"{root}/li"
    table(spark, "lineitem").repartition(4).write.parquet(src)
    li = spark.read.parquet(src)
    hs = Hyperspace(spark, system_path=f"{root}/idx")
    hs.create_index(
        li,
        ZOrderCoveringIndexConfig(
            "pz",
            ["l_quantity", "l_extendedprice"],
            ["l_orderkey", "l_returnflag"],
            where="l_returnflag = 'R'",
        ),
    )
    mgr = hs._log_mgr("pz", hs.conf())
    entry = mgr.get_latest_stable_log()
    assert entry.derived_properties.get("filterPredicate")
    n_idx = spark.read.parquet(entry.index_data_dirs[0]).count()
    n_pred = li.filter("l_returnflag = 'R'").count()
    assert n_idx == n_pred
    # implied -> served
    df = li.filter("l_quantity > 45 AND l_returnflag = 'R'").select(
        "l_orderkey", "l_extendedprice"
    )
    out, used = hs._apply_with_info(df)
    assert used == ["pz"], hs.why_not(df)
    assert rows_equal(df, out)
    # not implied -> declined
    df2 = li.filter("l_quantity > 45").select("l_orderkey", "l_extendedprice")
    out2, used2 = hs._apply_with_info(df2)
    assert used2 == []
    assert "PREDICATE_NOT_IMPLIED" in hs.why_not(df2)
    # incremental append adds only predicate rows
    one = sorted(glob.glob(f"{src}/part-*.parquet"))[0]
    shutil.copy(one, f"{src}/appended_0.parquet")
    hs.refresh_index("pz", "incremental")
    entry2 = mgr.get_latest_stable_log()
    after = spark.read.parquet(entry2.index_data_dirs[0]).count()
    added = spark.read.parquet(one).filter("l_returnflag = 'R'").count()
    assert after == n_idx + added
    li2 = spark.read.parquet(src)
    df3 = li2.filter("l_quantity > 45 AND l_returnflag = 'R'").select(
        "l_orderkey", "l_extendedprice"
    )
    out3, used3 = hs._apply_with_info(df3)
    assert used3 == ["pz"], hs.why_not(df3)
    assert rows_equal(df3, out3)


def test_partial_index_serves_join_and_agg_when_side_filter_implies(spark, tmp_path):
    """r10: a partial index CAN serve join/agg rewrites when the
    subtree's own filter provably implies the build predicate (the
    filter replays on top of the index scan)."""
    from pyspark.sql import functions as F

    from hyperspace_spark import Hyperspace

    root = str(tmp_path)
    src_o = f"{root}/orders"
    src_l = f"{root}/li"
    table(spark, "orders").repartition(4).write.parquet(src_o)
    table(spark, "lineitem").repartition(4).write.parquet(src_l)
    o = spark.read.parquet(src_o)
    li = spark.read.parquet(src_l)
    hs = Hyperspace(spark, system_path=f"{root}/idx")
    hs.create_index(
        o,
        CoveringIndexConfig(
            "pj_o", ["o_orderkey"], ["o_orderpriority"],
            num_buckets=8, where="o_orderpriority = '1-URGENT'",
        ),
    )
    hs.create_index(
        li,
        CoveringIndexConfig("pj_l", ["l_orderkey"], ["l_quantity"], num_buckets=8),
    )
    # join: urgent orders only — the side filter implies the predicate
    j = (
        li.join(
            o.filter("o_orderpriority = '1-URGENT'"),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    out, used = hs._apply_with_info(j)
    assert set(used) == {"pj_o", "pj_l"}, hs.why_not(j)
    assert rows_equal(j, out)
    # same join WITHOUT the implying filter: partial side declines
    j2 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    out2, used2 = hs._apply_with_info(j2)
    assert "pj_o" not in used2
    assert rows_equal(j2, out2)
    # agg keyed on the partial index's bucket column with an implying
    # filter: bucketed-agg path fires
    hs.create_index(
        o,
        CoveringIndexConfig(
            "pa_o", ["o_custkey"], ["o_totalprice", "o_orderpriority"],
            num_buckets=8, where="o_orderpriority = '1-URGENT'",
        ),
    )
    a = (
        o.filter("o_orderpriority = '1-URGENT'")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
    )
    out3, used3 = hs._apply_with_info(a)
    assert "pa_o" in used3, hs.why_not(a)
    assert rows_equal(a, out3)
    plan = out3._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final  # bucketed read: shuffle-free agg
    # window partitioned on the bucket column: served under an implying
    # filter, declined without one
    from pyspark.sql import Window

    def latest(frame):
        w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
        return frame.select("o_custkey", "o_totalprice", F.row_number().over(w).alias("rn"))

    w1 = latest(o.filter("o_orderpriority = '1-URGENT'"))
    out4, used4 = hs._apply_with_info(w1)
    assert used4 == ["pa_o"], hs.why_not(w1)
    assert rows_equal(w1, out4)
    w2 = latest(o)
    out5, used5 = hs._apply_with_info(w2)
    assert "pa_o" not in used5
    assert "PREDICATE_NOT_IMPLIED" in hs.why_not(w2)
    assert rows_equal(w2, out5)

    # band EXISTS self-join on the bucket column: the per-key aggregate
    # rewrite serves both sides when each side's filter implies the
    # predicate; an unfiltered probe side declines
    def dwarfed(probe):
        a = o.filter("o_orderpriority = '1-URGENT'").alias("a")
        return a.join(
            probe.alias("b"),
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.o_totalprice") > F.col("a.o_totalprice") * 1.5),
            "left_semi",
        ).select(F.col("a.o_custkey").alias("c"), F.col("a.o_totalprice").alias("t"))

    b1 = dwarfed(o.filter("o_orderpriority = '1-URGENT'"))
    out6, used6 = hs._apply_with_info(b1)
    assert used6 == ["pa_o", "pa_o"], hs.why_not(b1)
    assert "__hs_band" in out6._jdf.queryExecution().analyzed().toString()
    assert rows_equal(b1, out6) and out6.count() > 0
    b2 = dwarfed(o)
    out7, used7 = hs._apply_with_info(b2)
    assert used7.count("pa_o") <= 1, used7  # only the filtered side may read it
    assert "__hs_band" not in out7._jdf.queryExecution().analyzed().toString()
    assert "PREDICATE_NOT_IMPLIED" in hs.why_not(b2)
    assert rows_equal(b2, out7)

"""Unit layer for the planner: rule scoring, optimizer max-score search,
ranking, source-provider registry, cross-instance OCC, and how often the
parser visits each plan node.

Mirrors the reference's rule unit tests (ScoreBasedIndexPlanOptimizerTest,
JoinIndexRankerTest, FilterIndexRankerTest) without Spark jobs; only the
parse-count test runs a small Spark query.
"""

import json

import pytest

from hyperspace_spark.config import HyperspaceConf
from hyperspace_spark.metadata.entry import FileInfo, IndexLogEntry, Relation
from hyperspace_spark.planner import ir
from hyperspace_spark.planner.candidates import Candidate
from hyperspace_spark.planner.expr import Attr, BoolOp, Cmp, Lit
from hyperspace_spark.planner.optimizer import optimize
from hyperspace_spark.planner.rules import (
    DataSkippingIndexRule,
    FilterIndexRule,
    JoinIndexRule,
    RuleContext,
    ZOrderFilterIndexRule,
    default_rules,
)


def make_entry(name, kind="CI", indexed=("a",), included=("b",), buckets=8, size=100):
    return IndexLogEntry(
        name=name,
        derived_kind=kind,
        derived_properties={
            "indexedColumns": list(indexed),
            "includedColumns": list(included),
            "numBuckets": buckets,
            "lineage": True,
            "schemaJson": json.dumps({"type": "struct", "fields": []}),
            "tableName": f"hs_{name}_v0",
        },
        relations=[Relation(root_paths=["/src"], file_format="parquet")],
        signature="sig",
        index_data_dirs=[f"/idx/{name}/v__=0"],
        content_files=[FileInfo(f"/idx/{name}/f", size, 0)],
        state="ACTIVE",
    )


def scan(cols=("a", "b", "c")):
    return ir.Scan(
        root_paths=["/src"],
        file_format="parquet",
        output=list(cols),
        data_schema_json=json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": c, "type": "long", "nullable": True, "metadata": {}}
                    for c in cols
                ],
            }
        ),
    )


def eq(col, val="1"):
    return Cmp(sql=f"({col} = {val})", references=frozenset([col]), op="=",
               left=Attr(sql=col, references=frozenset([col]), name=col),
               right=Lit(sql=val, dtype="long"))


def filter_plan(s, col="a", project_cols=("b",)):
    f = ir.FilterN(child=s, condition=eq(col))
    return ir.ProjectN(child=f, exprs=list(project_cols), output=list(project_cols),
                       references=frozenset(project_cols))


def ctx_for(s, cands, conf=None):
    return RuleContext(None, conf or HyperspaceConf(system_path="/idx"), {id(s): cands})


def test_filter_rule_scores_50_on_exact_match():
    s = scan()
    cand = Candidate(entry=make_entry("i1"))
    applied = FilterIndexRule().apply(filter_plan(s), ctx_for(s, [cand]))
    assert applied is not None and applied.score == 50.0
    assert applied.index_names == ["i1"]


def test_filter_rule_hybrid_coverage_scales_score():
    s = scan()
    cand = Candidate(entry=make_entry("i1"), hybrid=True, common_bytes=60, total_bytes=100)
    applied = FilterIndexRule().apply(filter_plan(s), ctx_for(s, [cand]))
    assert applied is not None and applied.score == pytest.approx(30.0)


def test_filter_rule_requires_first_indexed_column():
    s = scan()
    cand = Candidate(entry=make_entry("i1", indexed=("c",), included=("a", "b")))
    assert FilterIndexRule().apply(filter_plan(s, col="a"), ctx_for(s, [cand])) is None


def test_filter_ranker_prefers_smallest():
    s = scan()
    big = Candidate(entry=make_entry("big", size=10_000))
    small = Candidate(entry=make_entry("small", size=10))
    applied = FilterIndexRule().apply(filter_plan(s), ctx_for(s, [big, small]))
    assert applied.index_names == ["small"]


def test_zorder_any_indexed_column_and_score_60():
    s = scan()
    cand = Candidate(entry=make_entry("z1", kind="ZCI", indexed=("c", "a"), included=("b",)))
    applied = ZOrderFilterIndexRule().apply(filter_plan(s, col="a"), ctx_for(s, [cand]))
    assert applied is not None and applied.score == 60.0


def test_join_rule_requires_compatible_order_and_scores_140():
    l, r = scan(("a", "b")), scan(("x", "y"))
    join = ir.JoinN(left=l, right=r, join_type="inner",
                    condition=eq("a"), equi_keys=[("a", "x")])
    lc = Candidate(entry=make_entry("li", indexed=("a",), included=("b",)))
    rc = Candidate(entry=make_entry("ri", indexed=("x",), included=("y",)))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"), {id(l): [lc], id(r): [rc]})
    applied = JoinIndexRule().apply(join, ctx)
    assert applied is not None and applied.score == 140.0
    assert sorted(applied.index_names) == ["li", "ri"]


def test_join_ranker_prefers_equal_buckets():
    l, r = scan(("a", "b")), scan(("x", "y"))
    join = ir.JoinN(left=l, right=r, join_type="inner", equi_keys=[("a", "x")])
    l8 = Candidate(entry=make_entry("l8", indexed=("a",), included=("b",), buckets=8))
    l16 = Candidate(entry=make_entry("l16", indexed=("a",), included=("b",), buckets=16))
    r16 = Candidate(entry=make_entry("r16", indexed=("x",), included=("y",), buckets=16))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"),
                      {id(l): [l8, l16], id(r): [r16]})
    applied = JoinIndexRule().apply(join, ctx)
    assert sorted(applied.index_names) == ["l16", "r16"]  # equal bucket counts win


def test_join_rule_accepts_appended_candidates():
    """U5 equivalent: an appended-files candidate no longer disables the
    join rule (the scan side becomes index ∪ appended files)."""
    l, r = scan(("a", "b")), scan(("x", "y"))
    join = ir.JoinN(left=l, right=r, join_type="inner", equi_keys=[("a", "x")])
    lc = Candidate(entry=make_entry("li", indexed=("a",), included=("b",)),
                   appended=[FileInfo("/src/new", 1, 1)], hybrid=True,
                   common_bytes=1, total_bytes=2)
    rc = Candidate(entry=make_entry("ri", indexed=("x",), included=("y",)))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"), {id(l): [lc], id(r): [rc]})
    applied = JoinIndexRule().apply(join, ctx)
    assert applied is not None and sorted(applied.index_names) == ["li", "ri"]


def test_join_rule_prefers_append_free_pair():
    """When both an exact and an appended candidate cover a side, the
    append-free pair wins the ranking (no union/re-shuffle needed)."""
    l, r = scan(("a", "b")), scan(("x", "y"))
    join = ir.JoinN(left=l, right=r, join_type="inner", equi_keys=[("a", "x")])
    lc_app = Candidate(entry=make_entry("li_app", indexed=("a",), included=("b",)),
                       appended=[FileInfo("/src/new", 1, 1)], hybrid=True,
                       common_bytes=1, total_bytes=2)
    lc_ok = Candidate(entry=make_entry("li_ok", indexed=("a",), included=("b",)))
    rc = Candidate(entry=make_entry("ri", indexed=("x",), included=("y",)))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"),
                      {id(l): [lc_app, lc_ok], id(r): [rc]})
    applied = JoinIndexRule().apply(join, ctx)
    assert applied is not None and sorted(applied.index_names) == ["li_ok", "ri"]


def test_optimizer_join_beats_two_filters():
    """Max-score search: join (140) must beat two single-side filter
    rewrites (50 + 50) — reference ScoreBasedIndexPlanOptimizer."""
    l = scan(("a", "b"))
    r = scan(("x", "y"))
    lf = ir.FilterN(child=l, condition=eq("a"))
    rf = ir.FilterN(child=r, condition=eq("x"))
    lp = ir.ProjectN(child=lf, exprs=["a", "b"], output=["a", "b"], references=frozenset(["a", "b"]))
    rp = ir.ProjectN(child=rf, exprs=["x", "y"], output=["x", "y"], references=frozenset(["x", "y"]))
    join = ir.JoinN(left=lp, right=rp, join_type="inner", equi_keys=[("a", "x")])
    lc = Candidate(entry=make_entry("li", indexed=("a",), included=("b",)))
    rc = Candidate(entry=make_entry("ri", indexed=("x",), included=("y",)))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"), {id(l): [lc], id(r): [rc]})
    best = optimize(join, default_rules(), ctx)
    assert best.score == 140.0


def test_optimizer_falls_back_to_children_sum():
    """Outer join: no join pair, but each side's filter rewrite applies
    -> total 100."""
    l = scan(("a", "b"))
    r = scan(("x", "y"))
    lp = filter_plan(l, col="a", project_cols=("b",))
    rp = ir.ProjectN(child=ir.FilterN(child=r, condition=eq("x")), exprs=["y"],
                     output=["y"], references=frozenset(["y"]))
    join = ir.JoinN(left=lp, right=rp, join_type="left_outer", equi_keys=[("a", "x")])
    lc = Candidate(entry=make_entry("li", indexed=("a",), included=("b",)))
    rc = Candidate(entry=make_entry("ri", indexed=("x",), included=("y",)))
    ctx = RuleContext(None, HyperspaceConf(system_path="/idx"), {id(l): [lc], id(r): [rc]})
    best = optimize(join, default_rules(), ctx)
    assert best.score == 100.0
    assert sorted(best.index_names) == ["li", "ri"]


def test_source_provider_registry():
    from hyperspace_spark.sources import FileBasedSourceProvider, provider_for

    assert isinstance(provider_for(scan()), FileBasedSourceProvider)
    # Delta scans are recognized by delta_root (set by the parser when the
    # paths live under a `_delta_log` table), not by a format string.
    delta_scan = ir.Scan(
        root_paths=["/d/part-0.parquet"], file_format="parquet", output=["a"], delta_root="/d"
    )
    assert provider_for(delta_scan).name == "delta"
    assert delta_scan.normalized_paths() == ("/d",)
    with pytest.raises(ValueError):
        provider_for(ir.Scan(root_paths=["/k"], file_format="kafka", output=[]))


def test_cross_instance_occ(tmp_path):
    """Two engine instances racing the same log id: one wins."""
    from hyperspace_spark.fs import FileSystem
    from hyperspace_spark.metadata.log_manager import IndexLogManager

    e = make_entry("race")
    m1 = IndexLogManager(str(tmp_path / "race"), FileSystem())
    m2 = IndexLogManager(str(tmp_path / "race"), FileSystem())
    assert m1.write_log(0, e)
    ok1 = m1.write_log(1, e.with_state("REFRESHING", 1))
    ok2 = m2.write_log(1, e.with_state("OPTIMIZING", 1))
    assert ok1 and not ok2


def test_self_join_chain_parses_each_join_once(spark, tmp_path, monkeypatch):
    """A q47-shaped self-join chain (the same aggregate joined to itself
    three times on a shared key, colliding payload names, attribute-only
    Projects between the levels) must parse each Join node once and no
    plan node twice.  Re-parsing a Project's join child per consumer
    (fusion probe, pruning Project, generic Project) re-walks every
    level below it over py4j: 2^depth work on these chains."""
    from hyperspace_spark import CoveringIndexConfig, Hyperspace
    from hyperspace_spark.planner import parser
    from pyspark.sql import functions as F
    from tests.conftest import rows_equal

    src = str(tmp_path / "sales")
    spark.range(600).select(
        (F.col("id") % 20).alias("k"),
        (F.col("id") % 7).alias("m"),
        ((F.col("id") * 37) % 1000).cast("double").alias("amt"),
    ).write.parquet(src)
    sales = spark.read.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(sales, CoveringIndexConfig("chain_ci", ["k"], ["m", "amt"]))
    sales.createOrReplaceTempView("chain_sales")
    q = spark.sql(
        """
        WITH v1 AS (
          SELECT k, m, sum(amt) AS total,
                 rank() OVER (PARTITION BY k ORDER BY m) rn
          FROM chain_sales GROUP BY k, m)
        SELECT v1.k, v1.m, v1.total, lag.total ptotal, lead.total ntotal,
               lag2.total p2total
        FROM v1, v1 lag, v1 lead, v1 lag2
        WHERE v1.k = lag.k AND v1.k = lead.k AND v1.k = lag2.k
          AND v1.rn = lag.rn + 1 AND v1.rn = lead.rn - 1
          AND v1.rn = lag2.rn + 2
        """
    )
    tree = str(q._jdf.queryExecution().optimizedPlan().treeString())
    lines = [ln for ln in tree.splitlines() if ln.strip()]
    joins = sum(1 for ln in lines if ln.lstrip(" :+-").startswith("Join "))
    assert joins == 3, tree

    calls = {"_parse": 0, "_parse_join": 0}
    for name in calls:
        orig = getattr(parser, name)

        def counted(*a, _orig=orig, _name=name, **k):
            calls[_name] += 1
            return _orig(*a, **k)

        monkeypatch.setattr(parser, name, counted)
    parser.parse_df(q)
    assert calls["_parse_join"] == joins, calls
    assert calls["_parse"] <= len(lines), (calls, len(lines))
    monkeypatch.undo()

    assert q.count() > 0
    assert rows_equal(q, hs.apply(q))
